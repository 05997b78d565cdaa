package graft.pipeline

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import graft.Fields
import graft.functions.Template
import graft.operators.{Bucketing, Curation, Dedup, FuzzyJoin, Graph, Quantiles,
  Similarity, Skyline, TextAnalysis, Web}
import graft.queries.DataOps
import graft.sources.{CliConnector, Connector, Documents, Http, MongoConnector}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** Config-driven pipeline (reference: src/step/mod.rs + src/main.rs): a
  * JSON/YAML/HJSON-lite config is an ordered list of steps.
  *
  * Spark-first semantics: the whole pipeline compiles to LAZY DataFrame
  * transformations — steps never materialize between stages (chewdata's
  * per-record queues would defeat Catalyst), so filter/projection pushdown
  * and codegen fuse across step boundaries, and one config runs unchanged
  * over a 100 TB input.
  *
  * Error channel: chewdata tags each record Ok/Err and steps declare
  * `data_type` ok|err. Here a validator SPLITS the flow into an ok stream
  * and an err stream (`_error` column carries messages); subsequent steps
  * declare which stream they consume.
  */
object Pipeline {

  sealed trait Step { def dataType: String }
  final case class Reader(name: String, connector: Connector, dataType: String,
                          stream: Boolean = false) extends Step
  final case class Writer(connector: Connector, dataType: String) extends Step
  final case class Transformer(actions: Seq[Action], dataType: String,
                               referentials: Seq[(String, Connector)] = Nil) extends Step
  final case class Validator(rules: Seq[Rule], errorSeparator: String, dataType: String,
                             referentials: Seq[(String, Connector)] = Nil) extends Step
  final case class Generator(count: Long, dataType: String) extends Step
  final case class Eraser(connector: Connector, dataType: String) extends Step
  /** Every other step (the referential join and the graft extension steps:
    * dedup, sampling, the graph steps, layout, …): `f` rewrites the
    * `dataType` stream. [[parseStep]] builds `f` from the step's config, so
    * a bad config fails at parse and `f` holds parsed values only. */
  final case class FrameStep(dataType: String, f: DataFrame => DataFrame) extends Step

  /** Named-template registry as a config step: registers tera templates
    * (macros, includable fragments, inheritance bases) for every later
    * transformer/validator pattern in the pipeline (tera: `Tera` holds
    * named templates; reference embeds the engine at src/updater/tera.rs).
    * A declaration — contributes no data flow. */
  final case class TemplatesStep(templates: Map[String, String]) extends Step {
    def dataType: String = "ok" // declaration only — never touches a flow
  }

  final case class Action(field: String, pattern: Option[String], actionType: String)
  final case class Rule(name: String, pattern: String, message: String)

  /** Compile a chewdata-style pattern to a Column:
    * `{{ ... }}` / `{% ... %}` tera templates render to Column expressions
    * (interpolation, if/elif/else, for, set); anything else is a SQL
    * expression (the Spark-native analogue of tera's expression language). */
  def compilePattern(pattern: String, env: Map[String, Column] = Map.empty,
                     templates: Map[String, String] = Map.empty): Column =
    if (pattern.contains("{{") || pattern.contains("{%"))
      Template.render(pattern, env, templates)
    else expr(pattern)

  /** Compile a validator-rule pattern to a BOOLEAN Column. chewdata rule
    * patterns are tera templates that must render the string "true"/"false"
    * (reference: src/step/validator.rs docs — `{%- if input.number == 10
    * -%} true {%- else -%} false {%- endif -%}`); a rendered template is a
    * string column, so coerce by trimmed equality. Plain SQL patterns
    * (`n > 0`) compile to boolean directly. */
  def compileBoolPattern(pattern: String, env: Map[String, Column] = Map.empty,
                         templates: Map[String, String] = Map.empty): Column =
    if (pattern.contains("{{") || pattern.contains("{%"))
      trim(Template.render(pattern, env, templates)) === "true"
    else expr(pattern)

  /** A parsed config: its steps, and each step's `type` as the config
    * spells it (`run` tags the step's jobs with it). */
  final case class Parsed(steps: Seq[Step], types: Seq[String])

  // ---- config parsing ----------------------------------------------------

  private val jsonMapper = new ObjectMapper()
  private val yamlMapper = new ObjectMapper(new YAMLFactory())

  /** `transport` is the injectable HTTP call for curl connectors in the
    * config (default refuses: zero egress); a full transport, so a header
    * counter sees the response headers (`Http.full` lifts a body-only
    * one). `mongoClient` is the injectable driver adapter for mongodb
    * connectors (default: none — operations fail fast with a clear
    * message). Both are the deployment-time live bindings: the CONFIG is
    * identical with or without them (see README "Running against live
    * services"). */
  def parse(config: String,
            transport: Http.FullTransport = Http.full(Http.noTransport),
            mongoClient: Option[MongoConnector.Client] = None): Parsed = {
    val trimmed = hjsonLite(config.trim)
    val root =
      if (trimmed.startsWith("[") || trimmed.startsWith("{"))
        // strict JSON first; full HJSON (unquoted keys/values, newline
        // separators — what the reference's own example configs use) as the
        // fallback, normalized to strict JSON by graft.pipeline.Hjson
        try jsonMapper.readTree(trimmed)
        catch { case _: com.fasterxml.jackson.core.JsonProcessingException =>
          jsonMapper.readTree(Hjson.toJson(trimmed))
        }
      else yamlMapper.readTree(trimmed)
    val nodes = root.elements().asScala.toSeq
    Parsed(nodes.map(parseStep(_, transport, mongoClient)),
      nodes.map(n => Option(n.get("type")).fold("")(_.asText())))
  }

  /** HJSON-lite normalization (the reference accepts hjson configs): strip
    * `//`/`#` comments and trailing commas outside strings. Quoted keys and
    * values pass through untouched. A comment marker counts at line start,
    * after whitespace, or right after a value-ending `"`/`}`/`]`/`,`
    * (`"v"//c` strips), so unquoted URLs (`endpoint: https://x`) and
    * fragments (`foo#bar`) survive intact; a comment abutting an unquoted
    * scalar (`1#c`) still needs whitespace before the marker. */
  def hjsonLite(config: String): String = {
    // pass 1: strip // and # comments (outside strings)
    val noComments = {
      val sb = new StringBuilder
      var inStr = false; var esc = false; var i = 0
      def atWordStart: Boolean = i == 0 || {
        val p = config.charAt(i - 1)
        // whitespace, or a char that unambiguously ends a JSON value; NOT
        // ':' or letters/digits, so unquoted `https://x` / `foo#bar` survive
        p.isWhitespace || p == '"' || p == '}' || p == ']' || p == ','
      }
      while (i < config.length) {
        val c = config.charAt(i)
        if (inStr) {
          sb += c
          if (esc) esc = false
          else if (c == '\\') esc = true
          else if (c == '"') inStr = false
          i += 1
        } else c match {
          case '"' => inStr = true; sb += c; i += 1
          case '/' if i + 1 < config.length && config.charAt(i + 1) == '/' && atWordStart =>
            while (i < config.length && config.charAt(i) != '\n') i += 1
          case '#' if atWordStart =>
            while (i < config.length && config.charAt(i) != '\n') i += 1
          case _ => sb += c; i += 1
        }
      }
      sb.result()
    }
    // pass 2: drop trailing commas (outside strings)
    val sb = new StringBuilder
    var inStr = false; var esc = false; var i = 0
    while (i < noComments.length) {
      val c = noComments.charAt(i)
      if (inStr) {
        sb += c
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
        i += 1
      } else if (c == '"') { inStr = true; sb += c; i += 1 }
      else if (c == ',') {
        var j = i + 1
        while (j < noComments.length && noComments.charAt(j).isWhitespace) j += 1
        if (j < noComments.length && (noComments.charAt(j) == '}' || noComments.charAt(j) == ']')) i += 1
        else { sb += c; i += 1 }
      } else { sb += c; i += 1 }
    }
    sb.result()
  }

  /** One config step. A step other than the chewdata reader, writer,
    * transformer, validator, generator, eraser and templates is a
    * [[FrameStep]]: its case reads the step's fields here and returns the
    * stream rewrite, checking the config before any step runs. */
  private def parseStep(node: JsonNode, transport: Http.FullTransport,
                        mongoClient: Option[MongoConnector.Client]): Step = {
    val fields = new Fields(node)
    import fields._
    val dataType = str("data_type", str("data", "ok"))
    def rewrite(f: DataFrame => DataFrame): Step = FrameStep(dataType, f)

    def docOptsOf(n: JsonNode): Documents.DocOptions =
      Option(n.get("document")).fold(Documents.DocOptions()) { doc =>
        val d = new Fields(doc)
        Documents.DocOptions(
          delimiter = d.str("delimiter", ","),
          header = d.bool("header", true),
          quote = d.str("quote", "\""),
          rowTag = d.str("row_tag", "row"),
          // chewdata xml conventions (reference: src/document/xml.rs:98-99 —
          // attribute_key '@', text_key '$'; the json text field is
          // "<text_key>text", per src/helper/xml2json.rs:164)
          attributePrefix = d.str("attribute_key", "@"),
          valueTag = d.str("text_key", "$") + "text",
          multiLine = d.bool("multi_line", false),
          entryPath = d.str("entry_path"),
          maxRecordsPerFile = d.long("max_records_per_file", 0L),
          sortBy = d.strs("sort_by"))
      }
    // reference default: a reader/writer without a connector talks to
    // stdio (`{ "type": "writer" }` in the chewdata examples)
    def connectorOf(n: JsonNode): Connector = {
      val docType = Option(n.get("document")).fold("json")(new Fields(_).str("type", "json"))
      Option(n.get("connector"))
        .map(Connector.fromConfig(_, docType, docOptsOf(n), transport, mongoClient))
        .getOrElse(CliConnector(docType))
    }
    def connector: Connector = connectorOf(node)

    // transformer/validator-embedded referentials (reference:
    // src/step/transformer.rs:105 — `referentials`, alias `refs`: a map
    // alias → Reader whose rows become template context)
    def referentials: Seq[(String, Connector)] =
      Option(node.get("referentials")).orElse(Option(node.get("refs")))
        .map(_.properties().asScala.map(e => e.getKey -> connectorOf(e.getValue)).toSeq)
        .getOrElse(Nil)

    // a graph step's edge frame from its `src`/`dst` columns
    def directed(w: String = "", symmetric: Boolean = false): DataFrame => DataFrame = {
      val (src, dst) = (str("src", "src"), str("dst", "dst"))
      df => directedEdges(df, src, dst, w, symmetric)
    }
    def undirected: DataFrame => DataFrame = {
      val (src, dst) = (str("src", "src"), str("dst", "dst"))
      df => undirectedEdges(df, src, dst)
    }

    str("type") match {
      case "reader" | "read" | "r" =>
        Reader(str("name", "reader"), connector, dataType, stream = bool("stream", false))
      case "writer" | "write" | "w" => Writer(connector, dataType)
      case "transformer" | "transform" | "t" =>
        val actions = Option(node.get("actions")).map(_.elements().asScala.map { a =>
          val f = new Fields(a)
          Action(field = f.str("field", "/"), pattern = Option(a.get("pattern")).map(_.asText()),
            actionType = f.str("type", "merge"))
        }.toSeq).getOrElse(Seq.empty)
        Transformer(actions, dataType, referentials)
      case "validator" | "validate" | "v" =>
        val rules = Option(node.get("rules")).map(_.properties().asScala.map { e =>
          Rule(e.getKey, pattern = e.getValue.get("pattern").asText(),
            message = new Fields(e.getValue).str("message", s"rule ${e.getKey} failed"))
        }.toSeq).getOrElse(Seq.empty)
        Validator(rules, str("error_separator", str("separator", "; ")), dataType, referentials)
      case "templates" | "tmpl" =>
        TemplatesStep(strMap("templates"))
      case "referential" | "ref" =>
        // broadcast left join; the lookup's columns are prefixed `<name>_`
        val (name, conn, leftOn, rightOn) =
          (str("name", "ref"), connector, str("left_on"), str("right_on"))
        rewrite { df =>
          val ref = conn.load(df.sparkSession)
          val renamed = ref.columns.foldLeft(ref)((r, c) => r.withColumnRenamed(c, s"${name}_$c"))
          df.join(broadcast(renamed), df(leftOn) === renamed(s"${name}_$rightOn"), "left")
        }
      // reference spells it `size` (examples/generator.rs); accept both
      case "generator" | "g" => Generator(long("size", long("count", 1L)), dataType)
      case "eraser" | "erase" | "e" => Eraser(connector, dataType)
      case "dedup" =>
        val (id, text, threshold) = (str("id", "id"), str("field", "text"), dbl("threshold", 0.7))
        val maxBucket = int("max_bucket", 64)
        rewrite(str("method", "exact") match {
          case "exact" => df => Dedup.exact(df, id, col(text))
          case "incremental" =>
            // batch-vs-corpus dedup against a persisted fingerprint
            // index; first run bootstraps the index from this batch
            val index = str("index")
            require(index.nonEmpty, "dedup method=incremental needs \"index\" (a table name)")
            val (buckets, append) = (int("index_buckets", 32), bool("append_index", true))
            df =>
              if (!df.sparkSession.catalog.tableExists(index)) {
                val first = Dedup.exact(df, id, col(text))
                Dedup.buildFingerprintIndex(first, index, buckets, id, col(text))
                first
              } else {
                // materialize AND cut lineage BEFORE appending: the
                // anti-join reads the index lazily, and appending this
                // batch's fingerprints invalidates any cache that still
                // references the table (Spark recaches on table write) —
                // a plain persist would recompute against the appended
                // index and dedup the batch against itself, dropping
                // every row. localCheckpoint severs the plan from the
                // table; on a long-lived cluster pipeline, a reliable
                // checkpoint dir is the equivalent.
                val kept = Dedup.dedupAgainstIndex(df, index, id, col(text)).localCheckpoint()
                if (append) Dedup.appendToIndex(kept, index, buckets, id, col(text))
                kept
              }
          case "fingerprint" => df => Dedup.exact(df, id, TextAnalysis.fingerprintSorted(col(text)))
          // `field` names the URL column; keep the min-id row per
          // canonical URL (C4's web pass — case/scheme/www/default
          // port/fragment/tracking-param/param-order insensitive)
          case "url" => df => Web.dedupByUrl(df, id, text)
          case "jaccard" =>
            // EXACT token-set Jaccard dedup (AllPairs prefix join —
            // 100% recall where minhash is probabilistic; prefer
            // minhash when candidate volume matters more than
            // exactness). threshold rationalizes to percents.
            val tNum = math.max(1, math.round(threshold * 100).toInt)
            df => {
              val pairs = Dedup.jaccardJoin(df, id, text, tNum = tNum, tDen = 100,
                  maxBucket = maxBucket)
                .select(col("id_a").as("a"), col("id_b").as("b"))
              keepRepresentatives(df, id, Dedup.representatives(pairs))
            }
          case "editdist" =>
            // collapse near-identical short strings (names, titles,
            // SKUs) within Levenshtein 1 — FastSS-blocked pairs →
            // connected components → min-id representative; exact
            // dups ride their string group to the same rep
            df => {
              val pairs = FuzzyJoin.editDistancePairs(df, id, text, maxBucket = maxBucket)
                .select(col("id_a").as("a"), col("id_b").as("b"))
              val strRep = df.groupBy(col(text).as("__s"))
                .agg(min(col(id).cast("long")).as("__rep0"))
              val ccReps = Dedup.representatives(pairs)
                .withColumnRenamed("id", "__cc_id")
                .withColumnRenamed("rep", "__cc")
              df.join(strRep, df(text) === col("__s"))
                .join(ccReps, col("__rep0") === col("__cc_id"), "left")
                .filter(df(id).cast("long") === coalesce(col("__cc"), col("__rep0")))
                .drop("__s", "__rep0", "__cc_id", "__cc")
            }
          case "minhash" =>
            // hashes/bands/max_bucket expose the LSH operating point:
            // rows-per-band r=hashes/bands sets chance-collision decay
            // (j^r) — the knob that keeps candidates linear at corpus
            // scale; max_bucket is the skew cap
            val (hashes, bands) = (int("hashes", 64), int("bands", 16))
            df => keepRepresentatives(df, id, Dedup.representatives(Dedup.minhashPairs(
              df, id, text, threshold, k = hashes, bands = bands, maxBucket = maxBucket)))
          case "containment" =>
            // drop documents swallowed by a larger one (Broder
            // containment >= threshold of the SMALLER side's tokens);
            // keep-the-larger policy, min-id on equal sizes. Candidates
            // come from winnowing, so only locally-matching pairs join.
            val thr = if (threshold > 0 && threshold <= 1) threshold else 0.9
            df => {
              val drops = Dedup.containmentPairs(df, id, text, maxBucket = maxBucket)
                .select(col("a"), col("b"), col("inter"), col("n_a"), col("n_b"),
                  when(col("n_a") < col("n_b"), col("a"))
                    .when(col("n_a") > col("n_b"), col("b"))
                    .otherwise(greatest(col("a"), col("b"))).as("small"))
                .withColumn("n_small",
                  when(col("small") === col("a"), col("n_a")).otherwise(col("n_b")))
                .filter(col("inter").cast("double") >=
                  lit(thr) * col("n_small").cast("double"))
                .select(col("small").as("__drop_id")).distinct()
              df.join(drops, df(id).cast("long") === col("__drop_id"), "left_anti")
            }
          case "winnow" =>
            // winnowing candidate graph (Schleimer et al. 2003): docs
            // sharing >= threshold selected fingerprints (threshold is
            // the integer shared-fingerprint floor here, not a jaccard;
            // max_bucket caps a fingerprint's bucket) -> min-id
            // representative per connected component
            df => {
              val pairs = Dedup.winnowPairs(df, id, text,
                maxBucket = maxBucket, minShared = math.max(1, threshold.toInt))
              keepRepresentatives(df, id, Dedup.representatives(pairs.select(col("a"), col("b"))))
            }
          case "simhash" =>
            // near-dup graph on 64-bit simhash (hamming <= max_hamming,
            // banded blocking, max_bucket skew cap) -> min-id
            // representative per connected component
            val maxHamming = int("max_hamming", 3)
            df => keepRepresentatives(df, id, Dedup.representatives(
              Dedup.simhashPairs(df, id, text, maxHamming, maxBucket)))
          case "semdedup" =>
            // `field` names the embedding column; threshold is tau.
            val centroidsPath = str("centroids")
            df => {
              val cents = resolveCentroids(df, centroidsPath, k = 16, iters = 2, id = id, vec = text)
              val kept = Similarity.semDedup(df, cents, threshold, idCol = id, vecCol = text)
                .select(col(id).as("__keep_id"))
              df.join(kept, df(id) === col("__keep_id"), "left_semi")
            }
          case other => throw new IllegalArgumentException(s"unknown dedup method: $other")
        })
      // exact repeated-substring removal (Lee et al. 2022): rewrites
      // `field` in place, dropping every n-token run that repeats anywhere
      // in the corpus except its globally-first occurrence
      case "substring_dedup" =>
        val (id, text, n) = (str("id", "id"), str("field", "text"), int("n", 8))
        rewrite { df =>
          val cleaned = Dedup.removeRepeatedRuns(df, id, text, n)
            .select(col(id).as("__sid"), col("clean_text").as("__clean"))
          df.join(cleaned, df(id) === col("__sid"))
            .withColumn(text, col("__clean")).drop("__sid", "__clean")
        }
      // corpus-level boilerplate line removal (CCNet-style): rewrites
      // `field` in place, dropping every line that occurs in at least
      // `min_docs` distinct documents
      case "boilerplate" =>
        val (id, text, minDocs) = (str("id", "id"), str("field", "text"), int("min_docs", 2))
        rewrite { df =>
          val cleaned = Dedup.removeCommonLines(df, id, text, minDocs)
            .select(col(id).as("__bid"), col("clean_text").as("__bclean"))
          df.join(cleaned, df(id) === col("__bid"))
            .withColumn(text, col("__bclean")).drop("__bid", "__bclean")
        }
      // paragraph-level keep-first dedup (the Dolma pass): rewrites
      // `field` in place, keeping each paragraph only at its
      // globally-first (doc, position) occurrence
      case "paragraph_dedup" =>
        val (id, text) = (str("id", "id"), str("field", "text"))
        rewrite { df =>
          val cleaned = Dedup.dedupParagraphs(df, id, text)
            .select(col(id).as("__pid"), col("clean_text").as("__pclean"))
          df.join(cleaned, df(id) === col("__pid"))
            .withColumn(text, col("__pclean")).drop("__pid", "__pclean")
        }
      case "scrub" =>
        val cols = strs("fields", Seq("text"))
        rewrite(df => cols.foldLeft(df)((d, c) => d.withColumn(c, TextAnalysis.scrubPii(col(c)))))
      // learned quality filter (CCNet-style): train the logistic quality
      // classifier against the target slice per run, then keep every doc
      // whose margin score clears `threshold`. Integral id required.
      case "quality_filter" =>
        val (id, text) = (str("id", "id"), str("field", "text"))
        val (tf, tv) = (str("target_field", "source"), str("target_value"))
        val (iters, lr, thr) = (int("iters", 8), dbl("lr", 0.1), dbl("threshold", 0.0))
        rewrite { df =>
          val renamed = df.select(col(id).cast("long").as("doc_id"),
            col(text).as("text"), col(tf).as("__tgt"))
          val w = Curation.trainQualityLR(renamed, col("__tgt") === tv, iters = iters, lr = lr)
          val keep = Curation.scoreQualityLR(renamed, w)
            .filter(col("score") >= thr).select(col("doc_id").as("__qid"))
          df.join(keep, df(id).cast("long") === col("__qid"), "left_semi")
        }
      // DSIR data selection (Xie et al. 2023): keep only the `k` docs whose
      // hashed n-gram distribution best matches the target slice. The id
      // column must be integral (the bounded top-k heap ranks long ids).
      case "dsir_select" =>
        val (id, text) = (str("id", "id"), str("field", "text"))
        val (tf, tv) = (str("target_field", "source"), str("target_value"))
        val (k, buckets) = (int("k", 1000), int("buckets", 1024))
        rewrite { df =>
          val renamed = df.select(col(id).cast("long").as("doc_id"),
            col(text).as("text"), col(tf).as("__tgt"))
          val sel = Curation.dsirSelect(renamed, col("__tgt") === tv, k, buckets)
            .select(col("doc_id").as("__kid"))
          df.join(sel, df(id).cast("long") === col("__kid"), "left_semi")
        }
      // CCNet head/middle/tail annotation (per-source quality terciles of
      // `field`); `keep` optionally filters to the named buckets
      case "quality_buckets" =>
        val (source, id, text, keep) =
          (str("source", "source"), str("id", "id"), str("field", "text"), strs("keep"))
        rewrite { df =>
          val annotated = DataOps.ccnetAnnotate(
            df, source, id, TextAnalysis.qualityScore(col(text)))
          if (keep.isEmpty) annotated
          else annotated.filter(col("bucket").isin(keep: _*)).drop("bucket")
        }
      // temperature-scaled per-source downsampling (sizes -> n_s^alpha);
      // alpha = 0 equalizes to the smallest source, 1 keeps everything
      case "mixture" =>
        val (source, id, alpha) = (str("source", "source"), str("id", "id"), dbl("alpha", 0.5))
        rewrite(df => DataOps.mixtureTemperature(df, source, id, alpha).drop("n_s", "min_n"))
      // token-budget sampling: keep the maximal hash-ordered prefix of each
      // source whose cumulative token count stays within budget
      case "sample" if node.has("budget") =>
        val (source, id, text) = (str("source_field", "source"), str("id", "id"), str("field", "text"))
        val budget = long("budget", 0L)
        rewrite { df =>
          val kept = DataOps.sampleTokenBudget(df, source, id, text, budget)
            .select(col(id).as("__tb_id"))
          df.join(kept, df(id) === col("__tb_id"), "left_semi")
        }
      // weighted k-per-group sampling: the k deterministic
      // priority-sampling winners per group (selection probability ∝
      // weight, see DataOps.weightedSamplePerGroup), as a semi-join
      case "sample" if node.has("weight") =>
        val (group, id, weight, k) = (str("group_by", "source"), str("id", "id"), str("weight"), int("k", 10))
        rewrite { df =>
          val keep = DataOps.weightedSamplePerGroup(df, group, id, weight, k)
            .select(col(group), col(id).cast("long").as(id))
          df.join(keep, df(group) === keep(group) && df(id).cast("long") === keep(id), "left_semi")
        }
      case "sample" =>
        // deterministic hash-threshold sampling (no RNG state, partition-
        // independent): pmod(xxhash64(key), 2^30) < fraction*2^30 gives
        // ~2^-30 fraction granularity; fraction >= 1 is identity.
        // Null-key policy: null keys are always dropped (xxhash64(NULL)
        // would return the seed and always pass, a silent keep-all flip)
        val (fraction, key) = (dbl("fraction", 0.1), str("key", "id"))
        rewrite { df =>
          if (fraction >= 1.0) df
          else {
            val n = 1L << 30
            df.filter(col(key).isNotNull &&
              pmod(xxhash64(col(key).cast("string")), lit(n)) < lit(math.round(fraction * n)))
          }
        }
      case "split" =>
        val (keys, train, valF) = (strs("by", Seq("id")), dbl("train", 0.8), dbl("val", 0.1))
        rewrite(df => DataOps.splitAssign(df, keys, train, valF))
      // semantic clustering annotation: mutual-kNN connected components
      // over the embedding column, written to `output` (singletons keep
      // their own id); centroids train inline or persist at `centroids`
      case "cluster" =>
        val (id, vec, k, nprobe) = (str("id", "id"), str("field", "embedding"), int("k", 5), int("nprobe", 2))
        val (nCents, maxCell) = (int("n_centroids", 16), int("max_cell", 4096))
        val (centsPath, out) = (str("centroids"), str("output", "cluster"))
        rewrite { df =>
          val cents = resolveCentroids(df, centsPath, k = nCents, iters = 2, id = id, vec = vec)
          val g = Similarity.knnGraph(df, cents, k = k, nprobe = nprobe, idCol = id, vecCol = vec,
            maxCell = maxCell)
          val reps = Dedup.representatives(Similarity.mutualKnn(g))
            .withColumnRenamed("id", "__cl_id").withColumnRenamed("rep", "__cl_rep")
          df.join(reps, df(id) === col("__cl_id"), "left")
            .withColumn(out, coalesce(col("__cl_rep"), df(id).cast("long")))
            .drop("__cl_id", "__cl_rep")
        }
      case "normalize" | "zscore" =>
        val (g, v, out) = (str("group_by", "source"), str("field", "n_chars"), str("output", "z"))
        rewrite(df => Curation.zscorePerGroup(df, g, v, out))
      // gap-rule sessionization: a new session starts when the same key's
      // inter-event gap exceeds `gap_minutes` (a zero gap never starts one)
      case "sessionize" =>
        val (key, ts) = (str("key", "user_id"), str("ts_field", "ts"))
        val (gapMin, out) = (long("gap_minutes", 30L), str("output", "sess"))
        rewrite { df =>
          val w = Window.partitionBy(col(key)).orderBy(col(ts))
          df.withColumn("__prev_ts", lag(col(ts), 1).over(w))
            .withColumn(out, sum(
              when(col("__prev_ts").isNull ||
                unix_micros(col(ts).cast("timestamp")) -
                  unix_micros(col("__prev_ts").cast("timestamp")) >
                  gapMin * 60000000L, 1L).otherwise(0L)).over(w))
            .drop("__prev_ts")
        }
      case "funnel" =>
        if (!node.has("stages")) throw new IllegalArgumentException("funnel needs \"stages\"")
        val (key, ts, tpe) = (str("key", "user_id"), str("ts_field", "ts"), str("type_field", "event_type"))
        val (stages, maxGap) = (strs("stages"), Option(node.get("max_gap_seconds")).map(_.asLong()))
        rewrite(df => DataOps.funnelStages(df, key, ts, tpe, stages, maxGap))
      // kept-anchored debounce: keep a record only when > `gap_seconds`
      // after the last KEPT record of the same key
      case "debounce" =>
        val (key, ts, id) = (str("key", "user_id"), str("ts_field", "ts"), str("id", "event_id"))
        val gapSec = long("gap_seconds", 60L)
        rewrite { df =>
          val kept = DataOps.debounceKeep(df, key, ts, id, gapSec * 1000000L)
            .select(col(id).as("__keep_id"))
          df.join(kept, df(id).cast("long") === col("__keep_id"), "left_semi")
        }
      case "attribution" =>
        val (key, ts, id) = (str("key", "user_id"), str("ts_field", "ts"), str("id", "event_id"))
        val (tpe, touch, conv) =
          (str("type_field", "event_type"), str("touch", "view"), str("conversion", "purchase"))
        val gapMin = long("gap_minutes", 30L)
        rewrite(df => DataOps.firstTouchAttribution(df, key, ts, id, tpe, touch, conv,
          gapMin * 60000000L))
      case "winsorize" =>
        // lo/hi are rational percentile ranks written "num/den"
        def frac(key: String, dflt: (Long, Long)): (Long, Long) =
          if (!node.has(key)) dflt
          else str(key).split("/") match {
            case Array(n, d) => (n.trim.toLong, d.trim.toLong)
            case _ => throw new IllegalArgumentException(
              s"winsorize $key wants \"num/den\", got ${str(key)}")
          }
        val (g, v, out) = (str("group_by", "source"), str("field", "n_chars"), str("output", "w"))
        val (lo, hi) = (frac("lo", (1L, 100L)), frac("hi", (99L, 100L)))
        rewrite(df => Quantiles.winsorizePerGroup(df, g, v, lo, hi, out))
      case "triangle" =>
        val edges = undirected
        rewrite(df => Graph.triangleCounts(edges(df)))
      case "communities" =>
        val (edges, sweeps, fixpoint) = (undirected, int("sweeps", 4), bool("fixpoint", false))
        rewrite(df => Graph.labelPropagation(edges(df), sweeps, fixpoint))
      // personalized PageRank: teleport mass on the `seeds` ids
      case "ppr" | "pagerank_personalized" =>
        val seeds = longs("seeds")
        require(seeds.nonEmpty, "ppr step needs a non-empty seeds list")
        val (edges, iters) = (directed(symmetric = bool("symmetric", true)), int("iterations", 5))
        rewrite { df =>
          val spark = df.sparkSession
          import spark.implicits._
          Graph.pageRankPersonalized(edges(df), seeds.toDF("id"), iters)
        }
      case "walks" | "random_walks" =>
        val edges = directed(str("weight"), bool("symmetric", false))
        val (steps, wpn, seed) = (int("steps", 4), int("walks_per_node", 1), str("seed", "graft"))
        rewrite(df => Graph.randomWalks(edges(df), steps, wpn, seed))
      // second-order walks: integer return/neighbor/far biases (the
      // rational (p, q) cleared of denominators)
      case "node2vec" =>
        val edges = directed(str("weight"), bool("symmetric", false))
        val (steps, wpn, seed) = (int("steps", 4), int("walks_per_node", 1), str("seed", "graft"))
        val (bR, bN, bF) = (long("bias_return", 1L), long("bias_neighbor", 1L), long("bias_far", 1L))
        rewrite(df => Graph.node2vecWalks(edges(df), steps, wpn, bR, bN, bF, seed))
      // strongly connected components of the directed edges: (id, scc),
      // scc = the component's minimum member id; nodes not finalized
      // within `rounds` are omitted (documented partial result)
      case "scc" =>
        val (edges, rounds, sweeps, trim) = (directed(), int("rounds", 3), int("sweeps", 6), int("trim", 0))
        rewrite(df => Graph.stronglyConnectedComponents(edges(df), rounds, sweeps, trim))
      // shortest-path depth from `seeds` (empty = the minimum node id);
      // a `weight` column makes it weighted SSSP
      case "sssp" =>
        val edges = directed(str("weight"), bool("symmetric", true))
        val (seeds, sweeps, fixpoint) = (longs("seeds"), int("sweeps", 8), bool("fixpoint", false))
        rewrite { df =>
          val e = edges(df)
          val seedDf =
            if (seeds.nonEmpty) {
              val spark = df.sparkSession
              import spark.implicits._
              seeds.toDF("id")
            } else
              // default seed = the minimum node id over BOTH endpoints
              // (min over src alone skips a node appearing only as a
              // destination in a directed flow)
              e.agg(least(min(col("src")), min(col("dst"))).as("id"))
          Graph.shortestPaths(e, seedDf, sweeps, fixpoint)
        }
      // label propagation + modularity scoring: one row per community
      case "modularity" =>
        val (edges, sweeps) = (undirected, int("sweeps", 4))
        rewrite(df => Graph.scoreLabels(edges(df), sweeps)(Graph.modularity))
      case "louvain" =>
        val (edges, levels, sweeps) = (undirected, int("levels", 2), int("sweeps", 2))
        rewrite(df => Graph.louvain(edges(df), levels, sweeps))
      case "sketch_percentiles" =>
        // quantiles are rational ranks written "num/den" (the winsorize
        // convention), named q<num>_<den> in the output
        val specs =
          if (!node.has("quantiles")) Seq(("p50", 1L, 2L))
          else strs("quantiles").map { q =>
            q.split("/") match {
              case Array(n, d) => (s"q${n.trim}_${d.trim}", n.trim.toLong, d.trim.toLong)
              case _ => throw new IllegalArgumentException(
                s"sketch_percentiles quantiles want \"num/den\", got $q")
            }
          }
        val (group, id, field, k) =
          (str("group_by", "source"), str("id", "doc_id"), str("field", "n_chars"), int("k", 512))
        rewrite(df => Quantiles.hashSampleQuantiles(df, group, id, field, k, specs))
      case "kcore" =>
        val (edges, k, sweeps) = (undirected, int("k", 2), int("max_sweeps", 20))
        rewrite(df => Graph.kCore(edges(df), k, sweeps))
      case "pagerank" =>
        val (edges, iters) = (directed(symmetric = bool("symmetric", true)), int("iterations", 5))
        rewrite(df => Graph.pageRank(edges(df), iters))
      case "hits" =>
        val (edges, iters) = (directed(), int("iterations", 3))
        rewrite(df => Graph.hits(edges(df), iters))
      // k-NN label propagation: rows with a `label_field` are the seeds;
      // every row gets its own label when present, else the majority
      // label of its k nearest seeds
      case "knn_classify" =>
        val (id, vec, labelCol) = (str("id", "id"), str("field", "embedding"), str("label_field", "label"))
        val (k, out) = (int("k", 5), str("output", "pred_label"))
        rewrite { df =>
          val seeds = df.filter(col(labelCol).isNotNull)
            .select(col(id).as("__s_id"), col(vec).as("__s_vec"), col(labelCol).as("__s_label"))
          val pred = Similarity.knnClassify(df.filter(col(labelCol).isNull), seeds, k,
              idCol = id, vecCol = vec,
              seedIdCol = "__s_id", seedVecCol = "__s_vec", seedLabelCol = "__s_label")
            .select(col(id).as("__p_id"), col("pred_label").as("__p_label"))
          df.join(pred, df(id) === col("__p_id"), "left")
            .withColumn(out, coalesce(col(labelCol).cast("long"), col("__p_label")))
            .drop("__p_id", "__p_label")
        }
      case "chunk" =>
        val (id, field) = (str("id", "id"), str("field", "text"))
        val (maxTok, stride) = (long("max_tokens", 512L), long("stride", 384L))
        rewrite(df => DataOps.chunkDocs(df, id, field, maxTok, stride))
      case "pack" =>
        val (id, field, maxTok, shards) =
          (str("id", "id"), str("field", "text"), int("max_tokens", 2048), int("shards", 0))
        rewrite(df => DataOps.packSequences(df, id, field, maxTok, shards))
      // token-mass-balanced contiguous export shards: `mass` names a
      // numeric column, else the whitespace token count of `field`
      case "shard" =>
        val (id, field, mass, shards) = (str("id", "id"), str("field", "text"), str("mass"), int("shards", 16))
        rewrite { df =>
          val (src, mcol) =
            if (mass.nonEmpty) (df, mass)
            else (df.withColumn("__mass", TextAnalysis.tokenCountWs(col(field)).cast("bigint")), "__mass")
          val out = Bucketing.shardByMass(src, Seq(id), mcol, shards)
          if (mass.nonEmpty) out else out.drop("__mass")
        }
      // Pareto quality frontier: rows not dominated on both integral columns
      case "pareto" =>
        val (x, y, width) = (str("x", "x"), str("y", "y"), long("bucket_width", 0L))
        rewrite(df => Skyline.paretoFront2(df, x, y, width))
      // storage-layout sink, the 100 TB layout levers: writes its stream
      // to `table`/`path` in the `mode`'s layout and passes the stream on
      case "layout" =>
        val (keys, sorts) = (strs("by"), strs("sort_by"))
        val target =
          if (node.has("table")) str("table")
          else if (node.has("path")) str("path")
          else throw new IllegalArgumentException("layout step needs \"table\" (bucket) or \"path\" (range/compact)")
        val n = int("buckets", int("partitions", int("target_file_mb", 0)))
        def parts(df: DataFrame): Int =
          if (n > 0) n else df.sparkSession.sessionState.conf.numShufflePartitions
        val write: DataFrame => Unit = str("mode", "bucket") match {
          case "bucket" =>
            // a bucketed (optionally sorted) table for co-located joins
            require(n > 0, "layout mode=bucket needs \"buckets\" > 0")
            df => Bucketing.writeBucketed(df, target, n, keys, sorts)
          case "range" =>
            // range-clustered parquet for min/max data skipping
            df => Bucketing.writeRangeClustered(df, target,
              if (keys.nonEmpty) keys else sorts, parts(df))
          case "zorder" =>
            // two-key Morton clustering: per-file min/max stats prune
            // selective scans on EITHER key
            require(keys.size == 2, "layout mode=zorder needs exactly 2 \"by\" keys")
            df => Bucketing.writeZOrdered(df, target, keys.head, keys(1), parts(df))
          case "compact" =>
            // table maintenance on the TARGET directory (the stream is
            // not consumed): rewrite small files toward
            // target_file_mb-sized ones
            val mb = if (n > 0) n else 128
            df => Bucketing.compact(df.sparkSession, target, mb.toLong * 1024 * 1024)
          case "shuffle" =>
            // deterministic training-export shuffle: one file per
            // shard, rows in seeded permutation order
            require(keys.nonEmpty, "layout mode=shuffle needs \"by\" keys")
            df => Bucketing.writeShuffled(df, target, keys, parts(df))
          case other => throw new IllegalArgumentException(s"unknown layout mode: $other")
        }
        rewrite { df => write(df); df }
      case other => throw new IllegalArgumentException(s"unknown step type: $other")
    }
  }

  // ---- execution ---------------------------------------------------------

  /** Stream state flowing between steps. */
  final case class Flow(ok: Option[DataFrame], err: Option[DataFrame]) {
    def apply(dataType: String): Option[DataFrame] = if (dataType == "err") err else ok
    def updated(dataType: String, df: DataFrame): Flow =
      if (dataType == "err") copy(err = Some(df)) else copy(ok = Some(df))
  }

  /** Materialize referential datasets into a template env: each alias's
    * rows bind as `alias.i.field` → lit(value) — plan-time constants, the
    * template analogue of a broadcast join (reference exposes referentials
    * as indexable context: `{{ mapping.2.number }}`,
    * examples/transform-mapping.rs). The bare alias binds to the dataset's
    * JSON. Referentials are lookup tables by design; the row cap keeps a
    * mis-declared fact table from being collected to the driver. One
    * collect per alias brings each row with its JSON text. */
  def referentialEnv(spark: SparkSession, refs: Seq[(String, Connector)],
                     maxRows: Int = 10000): Map[String, Column] =
    refs.flatMap { case (alias, conn) =>
      val df = conn.load(spark)
      val rows = df.limit(maxRows + 1)
        .select(col("*"), to_json(struct(col("*")))).collect()
      require(rows.length <= maxRows,
        s"referential '$alias' exceeds $maxRows rows — use a referential step (broadcast join) for large mappings")
      val fields = df.schema.fields
      val cells = rows.iterator.zipWithIndex.flatMap { case (r, i) =>
        fields.iterator.zipWithIndex.map { case (f, j) =>
          val v: Column =
            if (r.isNullAt(j)) lit(null)
            else r.get(j) match {
              case x @ (_: String | _: java.lang.Boolean | _: java.lang.Long |
                        _: java.lang.Integer | _: java.lang.Short | _: java.lang.Byte |
                        _: java.lang.Double | _: java.lang.Float |
                        _: java.math.BigDecimal | _: java.sql.Timestamp |
                        _: java.sql.Date) => lit(x)
              case other => lit(other.toString) // nested values degrade to text
            }
          s"$alias.$i.${f.name}" -> v
        }
      }
      val asJson = alias -> lit(
        rows.map(_.getString(fields.length)).mkString("[", ",", "]"))
      cells.toSeq :+ asJson
    }.toMap

  /** Apply transformer actions: merge = add/overwrite column, replace =
    * overwrite, remove = drop. Field "/" with no pattern is identity. */
  def applyActions(df: DataFrame, actions: Seq[Action], env: Map[String, Column] = Map.empty,
                   templates: Map[String, String] = Map.empty): DataFrame =
    actions.foldLeft(df) { (d, a) =>
      (a.actionType, a.field) match {
        case ("remove", f)       => d.drop(fieldName(f))
        case (_, "/")            => d // identity: output := input
        case (_, f)              =>
          // whole-row bindings for `{{ input | json_encode() }}`-style
          // patterns: input = the step's source row, output = the row as
          // built so far (actions are cumulative)
          val inputCols = df.columns.filter(d.columns.contains).toIndexedSeq
          val rowEnv = env +
            ("__row__input" -> struct(inputCols.map(col): _*)) +
            ("__row__output" -> struct(d.columns.toIndexedSeq.map(col): _*))
          val c = a.pattern.map(compilePattern(_, rowEnv, templates)).getOrElse(lit(null))
          d.withColumn(fieldName(f), c)
      }
    }

  private def fieldName(f: String): String = f.stripPrefix("/")

  /** `df` plus `_error`: the failed rules' messages, or null when all hold. */
  private def tagErrors(df: DataFrame, rules: Seq[Rule], sep: String, env: Map[String, Column],
                        templates: Map[String, String]): DataFrame =
    df.withColumn("_error", nullif(concat_ws(sep,
      rules.map(r => when(!compileBoolPattern(r.pattern, env, templates), lit(r.message))): _*),
      lit("")))

  /** The ok and err streams of a tagged frame: each row lands in exactly one. */
  private def splitTagged(tagged: DataFrame): (DataFrame, DataFrame) =
    (tagged.filter(col("_error").isNull).drop("_error"),
     tagged.filter(col("_error").isNotNull))

  /** Indices of the validator steps whose ok and err streams are each read
    * by a later writer. Any other step leaves a stream's link to its split
    * in place (it rewrites the stream lazily); a later reader or generator
    * on a stream cuts that stream's link, and a later validator starts a
    * new split of both. */
  private def sharedSplits(steps: Seq[Step]): Set[Int] = {
    def stream(dt: String) = if (dt == "err") "err" else "ok" // as Flow.apply reads it
    val from = scala.collection.mutable.Map.empty[String, Int]
    val written = scala.collection.mutable.Set.empty[(Int, String)]
    steps.zipWithIndex.foreach {
      case (_: Validator, i) => from("ok") = i; from("err") = i
      case (r: Reader, _) => from -= stream(r.dataType)
      case (g: Generator, _) => from -= stream(g.dataType)
      case (w: Writer, _) =>
        from.get(stream(w.dataType)).foreach(i => written += (i -> stream(w.dataType)))
      case _ => ()
    }
    written.collect { case (i, "ok") if written((i, "err")) => i }.toSet
  }

  /** Whether a split whose ok and err streams are both written persists
    * its tagged rows: not for a streaming frame, nor when the frame's
    * input ([[Bridge.inputBytes]]) is over `maxInputBytes` or has no size
    * estimate. The stored rows are about the input's size, and they spill
    * to executor disk past the storage memory; under the bound that is a
    * small share of either. Above it each writer re-runs the plan, as an
    * unshared split does, and nothing is stored. */
  private[graft] def sharesRows(tagged: DataFrame,
                                maxInputBytes: Long = 256L << 20): Boolean =
    !tagged.isStreaming && Bridge.inputBytes(tagged) <= maxInputBytes

  /** Keep each row of `df` that is its component's representative in `reps`
    * (`Dedup.representatives`' `id`/`rep` frame) or in no component. */
  private def keepRepresentatives(df: DataFrame, id: String, reps: DataFrame): DataFrame = {
    val r = reps.withColumnRenamed("id", "__rep_id").withColumnRenamed("rep", "__rep")
    df.join(r, df(id) === col("__rep_id"), "left")
      .filter(col("__rep").isNull || col("__rep") === df(id))
      .drop("__rep_id", "__rep")
  }

  /** A graph step's undirected edges: each pair once as long (`a`, `b`),
    * `a < b`; self-loops dropped. */
  private[graft] def undirectedEdges(df: DataFrame, src: String, dst: String): DataFrame =
    df.select(
        least(col(src).cast("long"), col(dst).cast("long")).as("a"),
        greatest(col(src).cast("long"), col(dst).cast("long")).as("b"))
      .filter(col("a") < col("b")).distinct()

  /** A graph step's directed edges as long (`src`, `dst`), plus `w` when a
    * weight column is named; `symmetric` unions the reversed edges. */
  private[graft] def directedEdges(df: DataFrame, src: String, dst: String, w: String = "",
                                   symmetric: Boolean = false): DataFrame = {
    val weight = if (w.nonEmpty) Seq(col(w).cast("long").as("w")) else Nil
    val fwd = df.select(Seq(col(src).cast("long").as("src"),
      col(dst).cast("long").as("dst")) ++ weight: _*)
    if (!symmetric) fwd
    else fwd.unionByName(fwd.select(Seq(col("dst").as("src"), col("src").as("dst")) ++
      weight.map(_ => col("w")): _*))
  }

  /** Centroid model resolution shared by the embedding-space steps
    * (`dedup method=semdedup`, `cluster`, …). Empty path → train inline.
    * Non-empty `centroids` path: the trained model loads from it, and a
    * training pass runs ONCE and persists there — reruns of the same
    * config skip the Lloyd collects entirely (the standard persist-the-
    * model pattern; delete the path to retrain). The persisted model is
    * trusted only when its write COMMITTED (_SUCCESS marker) — a bare
    * exists() would load the partial dir a killed run leaves behind. An
    * uncommitted dir is cleared and retrained; the fresh model writes to
    * a temp path and renames in, so no reader ever sees a half-written
    * model at the canonical path. */
  private def resolveCentroids(df: DataFrame, centroidsPath: String, k: Int, iters: Int,
                               id: String, vec: String): DataFrame =
    if (centroidsPath.isEmpty)
      Similarity.trainCentroids(df, k = k, iterations = iters, idCol = id, vecCol = vec)
    else {
      val spark = df.sparkSession
      val p = new org.apache.hadoop.fs.Path(centroidsPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val committed = new org.apache.hadoop.fs.Path(p, "_SUCCESS")
      if (fs.exists(committed)) spark.read.parquet(centroidsPath)
      else {
        fs.delete(p, true)
        val trained = Similarity.trainCentroids(
          df, k = k, iterations = iters, idCol = id, vecCol = vec)
        val tmp = new org.apache.hadoop.fs.Path(
          centroidsPath + "__tmp-" + java.util.UUID.randomUUID())
        trained.write.parquet(tmp.toString)
        if (!fs.rename(tmp, p)) {
          // lost a race to a concurrent run: use theirs if committed,
          // otherwise surface the conflict
          fs.delete(tmp, true)
          require(fs.exists(committed),
            s"centroids path $centroidsPath is contended and uncommitted")
        }
        spark.read.parquet(centroidsPath)
      }
    }

  /** Run a parsed pipeline. Returns the final flow (ok/err streams) so
    * callers (and tests) can inspect results; writers have already written.
    *
    * Cache lifecycle: dedup/cluster/retrieval steps call operators that
    * return PERSISTED frames (they materialize once and release their
    * internals; the result cache is what downstream steps consume without
    * recomputing). A CLI run exits with the process; a long-lived session
    * embedding many runs should `spark.catalog.clearCache()` (or
    * unpersist the returned flow's frames) once a run's outputs are no
    * longer consumed, or one result-sized cache per operator call
    * accumulates for the session's lifetime.
    *
    * A validator whose ok and err streams are each read by a later writer
    * ([[sharedSplits]]) evaluates its tagged frame once when its input is
    * at most 256 MiB and not streaming ([[sharesRows]]): the rows persist
    * (`MEMORY_AND_DISK`, `Bridge.persistRows`) as the first writer runs,
    * the second writer reads them, and every record lands in exactly one
    * stream. The stored rows hold every column of the tagged frame (a
    * later step's projection no longer prunes the scan), and the frame's
    * exchanges, such as a referential broadcast, run as the validator step
    * prepares the plan. Those rows are released when the run ends or
    * throws; the returned flow's frames then recompute through lineage. A
    * split with one written stream, or a larger input, persists nothing.
    *
    * Each step's jobs carry the job description `step <i>: <type>`, the
    * type as the config spells it; the caller's description is restored
    * when the run ends or throws. */
  def run(spark: SparkSession, parsed: Parsed): Flow = {
    // make the graft SQL surface available to config patterns
    try graft.plans.GraftExtensions.register(spark) catch { case _: Throwable => () }
    // template registrations are declarations: visible to every pattern in
    // the pipeline regardless of step order (tera loads all templates first)
    val registry = parsed.steps.collect { case TemplatesStep(m) => m }
      .foldLeft(Map.empty[String, String])(_ ++ _)
    val shared = sharedSplits(parsed.steps)
    val held = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]
    val sc = spark.sparkContext
    val callerDesc = sc.getLocalProperty("spark.job.description")
    try parsed.steps.zipWithIndex.foldLeft(Flow(None, None)) { case (flow, (step, i)) =>
      sc.setJobDescription(s"step $i: ${parsed.types(i)}")
      step match {
        case Reader(_, conn, dt, stream) =>
          flow.updated(dt, if (stream) conn.loadStream(spark) else conn.load(spark))
        case Generator(n, dt)     => flow.updated(dt, spark.range(n).toDF("id"))
        case Eraser(conn, _)      => conn.erase(spark); flow
        case TemplatesStep(_)     => flow
        case Transformer(actions, dt, refs) =>
          flow(dt).map(df =>
            flow.updated(dt, applyActions(df, actions, referentialEnv(spark, refs), registry))
          ).getOrElse(flow)
        case Validator(rules, sep, dt, refs) =>
          flow(dt).map { df =>
            val tagged = tagErrors(df, rules, sep, referentialEnv(spark, refs), registry)
            val (ok, err) = splitTagged(
              if (!shared(i) || !sharesRows(tagged)) tagged
              else {
                val (rows, rdd) = Bridge.persistRows(tagged, StorageLevel.MEMORY_AND_DISK)
                held += rdd
                rows
              })
            Flow(Some(ok), Some(err))
          }.getOrElse(flow)
        case FrameStep(dt, f) => flow(dt).map(df => flow.updated(dt, f(df))).getOrElse(flow)
        case Writer(conn, dt) =>
          // a streaming flow (reader had "stream": true) writes through the
          // streaming sink; the SAME config otherwise runs batch
          flow(dt).foreach(df => if (df.isStreaming) conn.saveStream(df) else conn.save(df))
          flow
      }
    } finally {
      sc.setLocalProperty("spark.job.description", callerDesc)
      held.foreach(_.unpersist(blocking = true))
    }
  }

  /** Parse `config` with [[parse]]'s live bindings and run it. */
  def run(spark: SparkSession, config: String,
          transport: Http.FullTransport = Http.full(Http.noTransport),
          mongoClient: Option[MongoConnector.Client] = None): Flow =
    run(spark, parse(config, transport, mongoClient))
}
