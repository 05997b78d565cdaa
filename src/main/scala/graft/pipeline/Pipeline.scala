package graft.pipeline

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import graft.functions.Template
import graft.sources.{CliConnector, Connector, Documents}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
  final case class Referential(name: String, connector: Connector,
                               leftOn: String, rightOn: String, dataType: String) extends Step
  final case class Generator(count: Long, dataType: String) extends Step
  final case class Eraser(connector: Connector, dataType: String) extends Step
  /** graft extension steps: the training-data operators as config steps. */
  final case class DedupStep(method: String, idCol: String, textCol: String,
                             threshold: Double, dataType: String,
                             centroidsPath: String = "",
                             hashes: Int = 64, bands: Int = 16,
                             maxBucket: Int = 64,
                             maxHamming: Int = 3,
                             indexTable: String = "",
                             indexBuckets: Int = 32,
                             appendIndex: Boolean = true) extends Step
  final case class ScrubStep(columns: Seq[String], dataType: String) extends Step
  /** Exact repeated-substring removal as a config step (Lee et al. 2022):
    * rewrites `field` in place, dropping every n-token run that repeats
    * anywhere in the corpus except its globally-first occurrence. */
  final case class SubstringDedupStep(idCol: String, textCol: String, n: Int,
                                      dataType: String) extends Step
  /** Corpus-level boilerplate line removal as a config step (CCNet-style):
    * rewrites `field` in place, dropping every newline-delimited line that
    * occurs in at least `min_docs` distinct documents. */
  final case class BoilerplateStep(idCol: String, textCol: String, minDocs: Int,
                                   dataType: String) extends Step
  /** Paragraph-level keep-first dedup as a config step (the Dolma pass):
    * rewrites `field` in place, keeping each newline-delimited paragraph
    * only at its globally-first (doc, position) occurrence. */
  final case class ParagraphDedupStep(idCol: String, textCol: String,
                                      dataType: String) extends Step
  /** Learned quality filter as a config step (CCNet-style): train the
    * logistic quality classifier against the target slice, then keep
    * every doc whose margin score clears `threshold`. Trains per run
    * (weights are a (B+1)-row frame; persisting them is the caller's
    * choice via the Scala API). Integral id required. */
  final case class QualityFilterStep(idCol: String, textCol: String,
                                     targetField: String, targetValue: String,
                                     iters: Int, lr: Double, threshold: Double,
                                     dataType: String) extends Step
  /** DSIR data selection as a config step (Xie et al. 2023): keep only
    * the `k` docs whose hashed n-gram distribution best matches the
    * target slice (`target_field` == `target_value`). The id column must
    * be integral (the bounded top-k heap ranks long ids). */
  final case class DsirSelectStep(idCol: String, textCol: String,
                                  targetField: String, targetValue: String,
                                  k: Int, buckets: Int,
                                  dataType: String) extends Step
  final case class SampleStep(fraction: Double, keyCol: String, dataType: String) extends Step
  /** Weighted k-per-group sampling (`sample` with `k` + `weight` keys):
    * keep the k deterministic priority-sampling winners per group —
    * selection probability ∝ weight, fractional weights supported
    * (scaled by 10⁶ before integer truncation, so 0-1 quality scores
    * keep their proportions) — and filter the flow to those rows
    * (semi-join on (group, id); the draw itself is the bounded-heap
    * [[graft.queries.DataOps.weightedSamplePerGroup]]). */
  final case class WeightedSampleStep(groupCol: String, idCol: String,
                                      weightCol: String, k: Int,
                                      dataType: String) extends Step
  /** Per-node triangle participation over an edge-list flow
    * ([[graft.operators.Graph.triangleCounts]]); edges canonicalize
    * (undirected, self-loops dropped) before the count. */
  final case class TriangleStep(srcCol: String, dstCol: String,
                                dataType: String) extends Step
  /** k-core peel over an edge-list flow ([[graft.operators.Graph.kCore]]):
    * replaces the flow with (id, deg) of the surviving core. */
  final case class KCoreStep(srcCol: String, dstCol: String, k: Int,
                             maxSweeps: Int, dataType: String) extends Step
  /** Label-propagation communities over an edge-list flow
    * ([[graft.operators.Graph.labelPropagation]]): replaces the flow
    * with (id, community). */
  final case class CommunitiesStep(srcCol: String, dstCol: String,
                                   sweeps: Int, fixpoint: Boolean,
                                   dataType: String) extends Step
  /** Personalized PageRank over an edge-list flow
    * ([[graft.operators.Graph.pageRankPersonalized]]): teleport mass on
    * the `seeds` ids; replaces the flow with (id, rank). */
  final case class PprStep(srcCol: String, dstCol: String, seeds: Seq[Long],
                           iterations: Int, symmetric: Boolean,
                           dataType: String) extends Step
  /** Deterministic random-walk corpus over an edge-list flow
    * ([[graft.operators.Graph.randomWalks]]): replaces the flow with
    * (start, wk, step, node) skip-gram training rows; `symmetric` unions
    * reversed edges first. */
  final case class WalksStep(srcCol: String, dstCol: String, steps: Int,
                             walksPerNode: Int, seed: String,
                             symmetric: Boolean, dataType: String,
                             wCol: String = "") extends Step
  /** Second-order node2vec walks over an edge-list flow
    * ([[graft.operators.Graph.node2vecWalks]]): integer
    * return/neighbor/far biases (the rational (p, q) cleared of
    * denominators); replaces the flow with (start, wk, step, node). */
  final case class Node2vecStep(srcCol: String, dstCol: String, wCol: String,
                                steps: Int, walksPerNode: Int,
                                biasReturn: Long, biasNeighbor: Long,
                                biasFar: Long, seed: String,
                                symmetric: Boolean,
                                dataType: String) extends Step
  /** Strongly connected components over a DIRECTED edge-list flow
    * ([[graft.operators.Graph.stronglyConnectedComponents]]): replaces
    * the flow with (id, scc), scc = each component's minimum member id.
    * Nodes not finalized within `rounds` are omitted (documented partial
    * result — raise rounds). */
  final case class SccStep(srcCol: String, dstCol: String, rounds: Int,
                           sweeps: Int, trim: Int, dataType: String) extends Step
  /** BFS / shortest-path depth layer over an edge-list flow
    * ([[graft.operators.Graph.shortestPaths]]): distances from `seeds`
    * (explicit ids; empty = the minimum node id). An optional weight
    * column makes it weighted SSSP; `symmetric` unions reversed edges.
    * Replaces the flow with (id, dist) for reached nodes. */
  final case class SsspStep(srcCol: String, dstCol: String, wCol: String,
                            seeds: Seq[Long], sweeps: Int,
                            symmetric: Boolean, fixpoint: Boolean,
                            dataType: String) extends Step
  /** Label-propagation communities + modularity scoring in one step
    * ([[graft.operators.Graph.modularity]] over
    * [[graft.operators.Graph.labelPropagation]]): replaces the flow with
    * one row per community (community, n_nodes, deg_sum, internal_edges,
    * q_num, q) — the graded quality/degeneracy signal. */
  final case class ModularityStep(srcCol: String, dstCol: String,
                                  sweeps: Int, dataType: String) extends Step
  /** Multi-level Louvain communities over an edge-list flow
    * ([[graft.operators.Graph.louvain]] — both Blondel phases: fixed
    * synchronous move sweeps per level, then community contraction):
    * replaces the flow with (id, community). */
  final case class LouvainStep(srcCol: String, dstCol: String, levels: Int,
                               sweeps: Int, dataType: String) extends Step
  /** Bounded-state sampled percentile bands per group
    * ([[graft.operators.Quantiles.hashSampleQuantiles]] — the
    * unbounded-value-domain scale path beside the exact histogram):
    * replaces the flow with (group, n_total, m_sample, <name>_s…). */
  final case class SketchPercentilesStep(groupCol: String, idCol: String,
                                         valueCol: String, k: Int,
                                         specs: Seq[(String, Long, Long)],
                                         dataType: String) extends Step
  /** Token-budget sampling (`sample` with a `budget` key): keep the
    * maximal hash-ordered prefix of each source whose cumulative token
    * count stays within budget — "N tokens per source". */
  final case class TokenBudgetStep(sourceCol: String, idCol: String,
                                   textCol: String, budget: Long,
                                   dataType: String) extends Step
  final case class MixtureStep(sourceCol: String, idCol: String, alpha: Double,
                               dataType: String) extends Step
  /** CCNet head/middle/tail annotation (per-source quality terciles of
    * `field`); `keep` optionally filters to the named buckets (the
    * released-corpus policy: train on head, drop tail). */
  final case class QualityBucketsStep(sourceCol: String, idCol: String,
                                      textCol: String, keep: Seq[String],
                                      dataType: String) extends Step
  final case class SplitStep(keyCols: Seq[String], trainFrac: Double,
                             valFrac: Double, dataType: String) extends Step
  /** Per-group z-score normalization of an integral signal column
    * ([[graft.operators.Curation.zscorePerGroup]]), annotated to `outCol`
    * — the cross-source calibration step before signals combine. */
  final case class ZscoreStep(groupCol: String, valueCol: String,
                              outCol: String, dataType: String) extends Step
  /** Gap-rule sessionization annotation: a new session starts when the
    * same key's inter-event gap exceeds `gapMinutes`; session ids are
    * tie-order independent (a zero gap never starts a session). */
  final case class SessionizeStep(keyCol: String, tsCol: String,
                                  gapMinutes: Long, outCol: String,
                                  dataType: String) extends Step
  /** Ordered-funnel analysis ([[graft.queries.DataOps.funnelStages]]):
    * replaces the flow with per-key stage timestamps + reached depth;
    * optional per-hop max gap (ClickHouse windowFunnel semantics). */
  final case class FunnelStep(keyCol: String, tsCol: String, typeCol: String,
                              stages: Seq[String], maxGapSeconds: Option[Long],
                              dataType: String) extends Step
  /** Kept-anchored debounce ([[graft.queries.DataOps.debounceKeep]] —
    * rate limiting): keep a record only when > `gapSeconds` after the
    * last KEPT record of the same key. */
  final case class DebounceStep(keyCol: String, tsCol: String, idCol: String,
                                gapSeconds: Long, dataType: String) extends Step
  /** Causal first-touch attribution
    * ([[graft.queries.DataOps.firstTouchAttribution]]): conversions
    * credited to the first touch earlier in their own gap-rule session;
    * replaces the flow with (id, key, sess, first_touch_id). */
  final case class AttributionStep(keyCol: String, tsCol: String,
                                   idCol: String, typeCol: String,
                                   touchType: String, convType: String,
                                   gapMinutes: Long, dataType: String) extends Step
  /** Per-group winsorization ([[graft.operators.Quantiles.winsorizePerGroup]]):
    * clip `valueCol` into its group's [lo, hi] nearest-lower-rank
    * percentile values, annotated to `outCol`. */
  final case class WinsorizeStep(groupCol: String, valueCol: String,
                                 lo: (Long, Long), hi: (Long, Long),
                                 outCol: String, dataType: String) extends Step
  /** Exact fixed-point integer PageRank over edge records (`src`, `dst`)
    * — [[graft.operators.Graph.pageRank]]; replaces the flow with
    * (id, rank) node scores. `symmetric` unions reversed edges first. */
  final case class PageRankStep(srcCol: String, dstCol: String,
                                iterations: Int, symmetric: Boolean,
                                dataType: String) extends Step
  /** HITS hubs/authorities over a DIRECTED edge-list flow
    * ([[graft.operators.Graph.hits]]): replaces the flow with
    * (id, hub, auth) integer scores. */
  final case class HitsStep(srcCol: String, dstCol: String,
                            iterations: Int, dataType: String) extends Step
  /** Semantic clustering annotation: mutual-kNN connected components over
    * the embedding column, written to `outCol` (singletons keep their own
    * id). Centroids train inline or persist at `centroidsPath`. */
  final case class ClusterStep(idCol: String, vecCol: String, k: Int,
                               nprobe: Int, nCentroids: Int, maxCell: Int,
                               centroidsPath: String, outCol: String,
                               dataType: String) extends Step
  /** k-NN label propagation: rows with a non-null `labelCol` act as the
    * seed set; every row gets `outCol` = its own label when present, else
    * the majority label of its k nearest seeds. */
  final case class KnnClassifyStep(idCol: String, vecCol: String,
                                   labelCol: String, k: Int, outCol: String,
                                   dataType: String) extends Step
  final case class ChunkStep(idCol: String, textCol: String, maxTokens: Long,
                             stride: Long, dataType: String) extends Step
  final case class PackStep(idCol: String, textCol: String, maxTokens: Int,
                            shards: Int, dataType: String) extends Step
  /** Token-mass-balanced contiguous export shards (Bucketing.shardByMass):
    * `mass` names a precomputed numeric column, or defaults to the
    * whitespace token count of `field`. Appends `shard`. */
  final case class ShardStep(idCol: String, textCol: String, massCol: String,
                             shards: Int, dataType: String) extends Step
  /** Pareto quality frontier (Skyline.paretoFront2): keeps rows not
    * dominated on BOTH integral signal columns. */
  final case class ParetoStep(xCol: String, yCol: String, bucketWidth: Long,
                              dataType: String) extends Step
  /** Storage-layout sink: "bucket" writes a bucketed (optionally
    * sorted) table for co-located joins; "range" writes range-clustered
    * parquet for min/max data skipping. These are the 100 TB layout
    * levers, reachable from the config dialect so a chewdata-style
    * pipeline can request them without touching the Scala API. */
  final case class LayoutStep(mode: String, target: String, keyCols: Seq[String],
                              sortCols: Seq[String], n: Int, dataType: String) extends Step

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
  def compilePattern(pattern: String): Column = compilePattern(pattern, Map.empty)

  def compilePattern(pattern: String, env: Map[String, Column]): Column =
    compilePattern(pattern, env, Map.empty)

  def compilePattern(pattern: String, env: Map[String, Column],
                     templates: Map[String, String]): Column =
    if (pattern.contains("{{") || pattern.contains("{%"))
      Template.render(pattern, env, templates)
    else expr(pattern)

  /** Compile a validator-rule pattern to a BOOLEAN Column. chewdata rule
    * patterns are tera templates that must render the string "true"/"false"
    * (reference: src/step/validator.rs docs — `{%- if input.number == 10
    * -%} true {%- else -%} false {%- endif -%}`); a rendered template is a
    * string column, so coerce by trimmed equality. Plain SQL patterns
    * (`n > 0`) compile to boolean directly. */
  def compileBoolPattern(pattern: String): Column = compileBoolPattern(pattern, Map.empty)

  def compileBoolPattern(pattern: String, env: Map[String, Column]): Column =
    compileBoolPattern(pattern, env, Map.empty)

  def compileBoolPattern(pattern: String, env: Map[String, Column],
                         templates: Map[String, String]): Column =
    if (pattern.contains("{{") || pattern.contains("{%"))
      trim(Template.render(pattern, env, templates)) === "true"
    else expr(pattern)

  final case class Parsed(steps: Seq[Step])

  // ---- config parsing ----------------------------------------------------

  private val jsonMapper = new ObjectMapper()
  private val yamlMapper = new ObjectMapper(new YAMLFactory())

  /** `transport` is the injectable HTTP call for curl connectors in the
    * config (default refuses: zero egress); `mongoClient` is the
    * injectable driver adapter for mongodb connectors (default: none —
    * operations fail fast with a clear message). Both are the
    * deployment-time live bindings: the CONFIG is identical with or
    * without them (see README "Running against live services"). */
  def parse(config: String,
            transport: graft.sources.Http.Transport = graft.sources.Http.noTransport,
            mongoClient: Option[graft.sources.MongoConnector.Client] = None): Parsed = {
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
    Parsed(root.elements().asScala.map(parseStep(_, transport, mongoClient)).toSeq)
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

  private def parseStep(node: JsonNode,
                        transport: graft.sources.Http.Transport,
                        mongoClient: Option[graft.sources.MongoConnector.Client] = None): Step = {
    def str(f: String, d: String = ""): String = if (node.has(f)) node.get(f).asText() else d
    val dataType = if (node.has("data_type")) node.get("data_type").asText()
      else if (node.has("data")) node.get("data").asText() else "ok"

    def docOpts: Documents.DocOptions = docOptsOf(node)
    def docOptsOf(n: JsonNode): Documents.DocOptions = {
      val doc = n.get("document")
      if (doc == null) Documents.DocOptions()
      else Documents.DocOptions(
        delimiter = if (doc.has("delimiter")) doc.get("delimiter").asText() else ",",
        header = !doc.has("header") || doc.get("header").asBoolean(true),
        quote = if (doc.has("quote")) doc.get("quote").asText() else "\"",
        rowTag = if (doc.has("row_tag")) doc.get("row_tag").asText() else "row",
        // chewdata xml conventions (reference: src/document/xml.rs:98-99 —
        // attribute_key '@', text_key '$'; the json text field is
        // "<text_key>text", per src/helper/xml2json.rs:164)
        attributePrefix =
          if (doc.has("attribute_key")) doc.get("attribute_key").asText() else "@",
        valueTag =
          (if (doc.has("text_key")) doc.get("text_key").asText() else "$") + "text",
        multiLine = doc.has("multi_line") && doc.get("multi_line").asBoolean(),
        entryPath = if (doc.has("entry_path")) doc.get("entry_path").asText() else "",
        maxRecordsPerFile =
          if (doc.has("max_records_per_file")) doc.get("max_records_per_file").asLong() else 0L,
        sortBy = Option(doc.get("sort_by"))
          .map(n => n.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil))
    }
    def docType: String = {
      val doc = node.get("document")
      if (doc != null && doc.has("type")) doc.get("type").asText() else "json"
    }
    // reference default: a reader/writer without a connector talks to
    // stdio (`{ "type": "writer" }` in the chewdata examples)
    def connector: Connector =
      Option(node.get("connector"))
        .map(Connector.fromConfig(_, docType, docOpts, transport, mongoClient))
        .getOrElse(CliConnector(docType))

    // transformer/validator-embedded referentials (reference:
    // src/step/transformer.rs:105 — `referentials`, alias `refs`: a map
    // alias → Reader whose rows become template context)
    def referentials: Seq[(String, Connector)] =
      Option(node.get("referentials")).orElse(Option(node.get("refs"))).map { r =>
        r.properties().asScala.map { e =>
          val rn = e.getValue
          val dt = if (rn.has("document") && rn.get("document").has("type"))
            rn.get("document").get("type").asText() else "json"
          e.getKey -> Option(rn.get("connector"))
            .map(Connector.fromConfig(_, dt, docOptsOf(rn), transport, mongoClient))
            .getOrElse(CliConnector(dt))
        }.toSeq
      }.getOrElse(Nil)

    str("type") match {
      case "reader" | "read" | "r" =>
        Reader(str("name", "reader"), connector, dataType,
          stream = node.has("stream") && node.get("stream").asBoolean())
      case "writer" | "write" | "w" => Writer(connector, dataType)
      case "transformer" | "transform" | "t" =>
        val actions = Option(node.get("actions")).map(_.elements().asScala.map { a =>
          Action(
            field = if (a.has("field")) a.get("field").asText() else "/",
            pattern = Option(a.get("pattern")).map(_.asText()),
            actionType = if (a.has("type")) a.get("type").asText() else "merge")
        }.toSeq).getOrElse(Seq.empty)
        Transformer(actions, dataType, referentials)
      case "validator" | "validate" | "v" =>
        val rules = Option(node.get("rules")).map(_.properties().asScala.map { e =>
          Rule(e.getKey,
            pattern = e.getValue.get("pattern").asText(),
            message = if (e.getValue.has("message")) e.getValue.get("message").asText()
              else s"rule ${e.getKey} failed")
        }.toSeq).getOrElse(Seq.empty)
        val sep =
          if (node.has("error_separator")) node.get("error_separator").asText()
          else if (node.has("separator")) node.get("separator").asText()
          else "; "
        Validator(rules, sep, dataType, referentials)
      case "templates" | "tmpl" =>
        val m = Option(node.get("templates")).map { t =>
          t.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
        }.getOrElse(Map.empty[String, String])
        TemplatesStep(m)
      case "referential" | "ref" =>
        Referential(str("name", "ref"), connector, str("left_on"), str("right_on"), dataType)
      case "generator" | "g" =>
        // reference spells it `size` (examples/generator.rs); accept both
        Generator(
          if (node.has("size")) node.get("size").asLong()
          else if (node.has("count")) node.get("count").asLong()
          else 1L, dataType)
      case "eraser" | "erase" | "e" => Eraser(connector, dataType)
      case "dedup" => DedupStep(
        method = str("method", "exact"),
        idCol = str("id", "id"), textCol = str("field", "text"),
        threshold = if (node.has("threshold")) node.get("threshold").asDouble() else 0.7,
        dataType,
        centroidsPath = str("centroids", ""),
        hashes = if (node.has("hashes")) node.get("hashes").asInt() else 64,
        bands = if (node.has("bands")) node.get("bands").asInt() else 16,
        maxBucket = if (node.has("max_bucket")) node.get("max_bucket").asInt() else 64,
        maxHamming = if (node.has("max_hamming")) node.get("max_hamming").asInt() else 3,
        indexTable = str("index", ""),
        indexBuckets = if (node.has("index_buckets")) node.get("index_buckets").asInt() else 32,
        appendIndex = !node.has("append_index") || node.get("append_index").asBoolean())
      case "substring_dedup" => SubstringDedupStep(
        idCol = str("id", "id"), textCol = str("field", "text"),
        n = if (node.has("n")) node.get("n").asInt() else 8, dataType)
      case "boilerplate" => BoilerplateStep(
        idCol = str("id", "id"), textCol = str("field", "text"),
        minDocs = if (node.has("min_docs")) node.get("min_docs").asInt() else 2, dataType)
      case "paragraph_dedup" => ParagraphDedupStep(
        idCol = str("id", "id"), textCol = str("field", "text"), dataType)
      case "scrub" =>
        val cols = Option(node.get("fields"))
          .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq("text"))
        ScrubStep(cols, dataType)
      case "quality_filter" => QualityFilterStep(
        idCol = str("id", "id"), textCol = str("field", "text"),
        targetField = str("target_field", "source"),
        targetValue = str("target_value", ""),
        iters = if (node.has("iters")) node.get("iters").asInt() else 8,
        lr = if (node.has("lr")) node.get("lr").asDouble() else 0.1,
        threshold = if (node.has("threshold")) node.get("threshold").asDouble() else 0.0,
        dataType)
      case "dsir_select" => DsirSelectStep(
        idCol = str("id", "id"), textCol = str("field", "text"),
        targetField = str("target_field", "source"),
        targetValue = str("target_value", ""),
        k = if (node.has("k")) node.get("k").asInt() else 1000,
        buckets = if (node.has("buckets")) node.get("buckets").asInt() else 1024,
        dataType)
      case "quality_buckets" =>
        val keep = Option(node.get("keep"))
          .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
        QualityBucketsStep(str("source", "source"), str("id", "id"),
          str("field", "text"), keep, dataType)
      case "mixture" => MixtureStep(
        sourceCol = str("source", "source"), idCol = str("id", "id"),
        alpha = if (node.has("alpha")) node.get("alpha").asDouble() else 0.5,
        dataType)
      case "sample" =>
        if (node.has("budget"))
          TokenBudgetStep(
            sourceCol = str("source_field", "source"),
            idCol = str("id", "id"), textCol = str("field", "text"),
            budget = node.get("budget").asLong(), dataType)
        else if (node.has("weight"))
          WeightedSampleStep(
            groupCol = str("group_by", "source"), idCol = str("id", "id"),
            weightCol = node.get("weight").asText(),
            k = if (node.has("k")) node.get("k").asInt() else 10, dataType)
        else SampleStep(
          fraction = if (node.has("fraction")) node.get("fraction").asDouble() else 0.1,
          keyCol = str("key", "id"), dataType)
      case "split" =>
        val keys = Option(node.get("by"))
          .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq("id"))
        SplitStep(keys,
          if (node.has("train")) node.get("train").asDouble() else 0.8,
          if (node.has("val")) node.get("val").asDouble() else 0.1, dataType)
      case "cluster" => ClusterStep(
        idCol = str("id", "id"), vecCol = str("field", "embedding"),
        k = if (node.has("k")) node.get("k").asInt() else 5,
        nprobe = if (node.has("nprobe")) node.get("nprobe").asInt() else 2,
        nCentroids = if (node.has("n_centroids")) node.get("n_centroids").asInt() else 16,
        maxCell = if (node.has("max_cell")) node.get("max_cell").asInt() else 4096,
        centroidsPath = str("centroids", ""),
        outCol = str("output", "cluster"), dataType)
      case "normalize" | "zscore" => ZscoreStep(str("group_by", "source"),
        str("field", "n_chars"), str("output", "z"), dataType)
      case "sessionize" => SessionizeStep(str("key", "user_id"),
        str("ts_field", "ts"),
        if (node.has("gap_minutes")) node.get("gap_minutes").asLong() else 30L,
        str("output", "sess"), dataType)
      case "funnel" =>
        val stages = Option(node.get("stages"))
          .map(_.elements().asScala.map(_.asText()).toSeq)
          .getOrElse(throw new IllegalArgumentException("funnel needs \"stages\""))
        FunnelStep(str("key", "user_id"), str("ts_field", "ts"),
          str("type_field", "event_type"), stages,
          if (node.has("max_gap_seconds")) Some(node.get("max_gap_seconds").asLong())
          else None, dataType)
      case "debounce" => DebounceStep(str("key", "user_id"),
        str("ts_field", "ts"), str("id", "event_id"),
        if (node.has("gap_seconds")) node.get("gap_seconds").asLong() else 60L,
        dataType)
      case "attribution" => AttributionStep(str("key", "user_id"),
        str("ts_field", "ts"), str("id", "event_id"),
        str("type_field", "event_type"),
        touchType = str("touch", "view"), convType = str("conversion", "purchase"),
        gapMinutes = if (node.has("gap_minutes")) node.get("gap_minutes").asLong() else 30L,
        dataType)
      case "winsorize" =>
        // lo/hi are rational percentile ranks written "num/den"
        def frac(key: String, dflt: (Long, Long)): (Long, Long) =
          if (!node.has(key)) dflt
          else node.get(key).asText().split("/") match {
            case Array(n, d) => (n.trim.toLong, d.trim.toLong)
            case _ => throw new IllegalArgumentException(
              s"winsorize $key wants \"num/den\", got ${node.get(key).asText()}")
          }
        WinsorizeStep(str("group_by", "source"), str("field", "n_chars"),
          frac("lo", (1L, 100L)), frac("hi", (99L, 100L)),
          str("output", "w"), dataType)
      case "triangle" => TriangleStep(str("src", "src"), str("dst", "dst"), dataType)
      case "communities" => CommunitiesStep(str("src", "src"), str("dst", "dst"),
        if (node.has("sweeps")) node.get("sweeps").asInt() else 4,
        fixpoint = node.has("fixpoint") && node.get("fixpoint").asBoolean(),
        dataType)
      case "ppr" | "pagerank_personalized" =>
        PprStep(str("src", "src"), str("dst", "dst"),
          seeds = if (node.has("seeds")) {
            import scala.jdk.CollectionConverters._
            node.get("seeds").elements().asScala.map(_.asLong()).toSeq
          } else Seq.empty,
          iterations = if (node.has("iterations")) node.get("iterations").asInt() else 5,
          symmetric = !node.has("symmetric") || node.get("symmetric").asBoolean(),
          dataType)
      case "walks" | "random_walks" => WalksStep(str("src", "src"),
        str("dst", "dst"),
        steps = if (node.has("steps")) node.get("steps").asInt() else 4,
        walksPerNode =
          if (node.has("walks_per_node")) node.get("walks_per_node").asInt()
          else 1,
        seed = str("seed", "graft"),
        symmetric = node.has("symmetric") && node.get("symmetric").asBoolean(),
        dataType,
        wCol = str("weight", ""))
      case "node2vec" => Node2vecStep(str("src", "src"), str("dst", "dst"),
        str("weight", ""),
        steps = if (node.has("steps")) node.get("steps").asInt() else 4,
        walksPerNode =
          if (node.has("walks_per_node")) node.get("walks_per_node").asInt()
          else 1,
        biasReturn =
          if (node.has("bias_return")) node.get("bias_return").asLong() else 1L,
        biasNeighbor =
          if (node.has("bias_neighbor")) node.get("bias_neighbor").asLong()
          else 1L,
        biasFar =
          if (node.has("bias_far")) node.get("bias_far").asLong() else 1L,
        seed = str("seed", "graft"),
        symmetric = node.has("symmetric") && node.get("symmetric").asBoolean(),
        dataType)
      case "scc" => SccStep(str("src", "src"), str("dst", "dst"),
        rounds = if (node.has("rounds")) node.get("rounds").asInt() else 3,
        sweeps = if (node.has("sweeps")) node.get("sweeps").asInt() else 6,
        trim = if (node.has("trim")) node.get("trim").asInt() else 0,
        dataType)
      case "sssp" => SsspStep(str("src", "src"), str("dst", "dst"),
        str("weight", ""),
        seeds = if (node.has("seeds")) {
          import scala.jdk.CollectionConverters._
          node.get("seeds").elements().asScala.map(_.asLong()).toSeq
        } else Seq.empty,
        sweeps = if (node.has("sweeps")) node.get("sweeps").asInt() else 8,
        symmetric = !node.has("symmetric") || node.get("symmetric").asBoolean(),
        fixpoint = node.has("fixpoint") && node.get("fixpoint").asBoolean(),
        dataType)
      case "modularity" => ModularityStep(str("src", "src"), str("dst", "dst"),
        if (node.has("sweeps")) node.get("sweeps").asInt() else 4, dataType)
      case "louvain" => LouvainStep(str("src", "src"), str("dst", "dst"),
        levels = if (node.has("levels")) node.get("levels").asInt() else 2,
        sweeps = if (node.has("sweeps")) node.get("sweeps").asInt() else 2,
        dataType)
      case "sketch_percentiles" =>
        // quantiles are rational ranks written "num/den" (the winsorize
        // convention), named q<num>_<den> in the output
        val specs =
          if (!node.has("quantiles")) Seq(("p50", 1L, 2L))
          else {
            import scala.jdk.CollectionConverters._
            node.get("quantiles").elements().asScala.map { q =>
              q.asText().split("/") match {
                case Array(n, d) =>
                  (s"q${n.trim}_${d.trim}", n.trim.toLong, d.trim.toLong)
                case _ => throw new IllegalArgumentException(
                  s"sketch_percentiles quantiles want \"num/den\", got ${q.asText()}")
              }
            }.toSeq
          }
        SketchPercentilesStep(str("group_by", "source"), str("id", "doc_id"),
          str("field", "n_chars"),
          k = if (node.has("k")) node.get("k").asInt() else 512,
          specs, dataType)
      case "kcore" => KCoreStep(str("src", "src"), str("dst", "dst"),
        k = if (node.has("k")) node.get("k").asInt() else 2,
        maxSweeps = if (node.has("max_sweeps")) node.get("max_sweeps").asInt() else 20,
        dataType)
      case "pagerank" => PageRankStep(str("src", "src"), str("dst", "dst"),
        iterations = if (node.has("iterations")) node.get("iterations").asInt() else 5,
        symmetric = !node.has("symmetric") || node.get("symmetric").asBoolean(),
        dataType)
      case "hits" => HitsStep(str("src", "src"), str("dst", "dst"),
        if (node.has("iterations")) node.get("iterations").asInt() else 3,
        dataType)
      case "knn_classify" => KnnClassifyStep(
        idCol = str("id", "id"), vecCol = str("field", "embedding"),
        labelCol = str("label_field", "label"),
        k = if (node.has("k")) node.get("k").asInt() else 5,
        outCol = str("output", "pred_label"), dataType)
      case "chunk" => ChunkStep(str("id", "id"), str("field", "text"),
        if (node.has("max_tokens")) node.get("max_tokens").asLong() else 512L,
        if (node.has("stride")) node.get("stride").asLong() else 384L, dataType)
      case "pack" => PackStep(str("id", "id"), str("field", "text"),
        if (node.has("max_tokens")) node.get("max_tokens").asInt() else 2048,
        if (node.has("shards")) node.get("shards").asInt() else 0, dataType)
      case "shard" => ShardStep(str("id", "id"), str("field", "text"),
        str("mass", ""),
        if (node.has("shards")) node.get("shards").asInt() else 16, dataType)
      case "pareto" => ParetoStep(str("x", "x"), str("y", "y"),
        if (node.has("bucket_width")) node.get("bucket_width").asLong() else 0L,
        dataType)
      case "layout" =>
        val keys = Option(node.get("by"))
          .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
        val sorts = Option(node.get("sort_by"))
          .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
        val mode = str("mode", "bucket")
        val target =
          if (node.has("table")) node.get("table").asText()
          else if (node.has("path")) node.get("path").asText()
          else throw new IllegalArgumentException("layout step needs \"table\" (bucket) or \"path\" (range/compact)")
        LayoutStep(mode, target, keys, sorts,
          if (node.has("buckets")) node.get("buckets").asInt()
          else if (node.has("partitions")) node.get("partitions").asInt()
          else if (node.has("target_file_mb")) node.get("target_file_mb").asInt() else 0,
          dataType)
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
    * mis-declared fact table from being collected to the driver. */
  def referentialEnv(spark: SparkSession, refs: Seq[(String, Connector)],
                     maxRows: Int = 10000): Map[String, Column] =
    refs.flatMap { case (alias, conn) =>
      val df = conn.load(spark)
      val rows = df.limit(maxRows + 1).collect()
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
        df.limit(maxRows).toJSON.collect().mkString("[", ",", "]"))
      cells.toSeq :+ asJson
    }.toMap

  /** Apply transformer actions: merge = add/overwrite column, replace =
    * overwrite, remove = drop. Field "/" with no pattern is identity. */
  def applyActions(df: DataFrame, actions: Seq[Action]): DataFrame =
    applyActions(df, actions, Map.empty)

  def applyActions(df: DataFrame, actions: Seq[Action],
                   env: Map[String, Column]): DataFrame =
    applyActions(df, actions, env, Map.empty)

  def applyActions(df: DataFrame, actions: Seq[Action], env: Map[String, Column],
                   templates: Map[String, String]): DataFrame =
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

  /** Apply validator rules: each rule's SQL pattern must hold; failures
    * append messages into `_error`. Returns (ok, err) split. */
  def applyRules(df: DataFrame, rules: Seq[Rule], sep: String): (DataFrame, DataFrame) =
    applyRules(df, rules, sep, Map.empty)

  def applyRules(df: DataFrame, rules: Seq[Rule], sep: String,
                 env: Map[String, Column]): (DataFrame, DataFrame) =
    applyRules(df, rules, sep, env, Map.empty)

  def applyRules(df: DataFrame, rules: Seq[Rule], sep: String, env: Map[String, Column],
                 templates: Map[String, String]): (DataFrame, DataFrame) = {
    val err = nullif(concat_ws(sep,
      rules.map(r => when(!compileBoolPattern(r.pattern, env, templates), lit(r.message))): _*), lit(""))
    val tagged = df.withColumn("_error", err)
    (tagged.filter(col("_error").isNull).drop("_error"),
     tagged.filter(col("_error").isNotNull))
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
  /** Keep each row of `df` that is its component's representative in `reps`
    * (`Dedup.representatives`' `id`/`rep` frame) or in no component. */
  private def keepRepresentatives(df: DataFrame, id: String, reps: DataFrame): DataFrame = {
    val r = reps.withColumnRenamed("id", "__rep_id").withColumnRenamed("rep", "__rep")
    df.join(r, df(id) === col("__rep_id"), "left")
      .filter(col("__rep").isNull || col("__rep") === df(id))
      .drop("__rep_id", "__rep")
  }

  private def resolveCentroids(spark: SparkSession, df: DataFrame,
                               centroidsPath: String, k: Int, iters: Int,
                               id: String, vec: String): DataFrame =
    if (centroidsPath.isEmpty)
      graft.operators.Similarity.trainCentroids(
        df, k = k, iterations = iters, idCol = id, vecCol = vec)
    else {
      val p = new org.apache.hadoop.fs.Path(centroidsPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val committed = new org.apache.hadoop.fs.Path(p, "_SUCCESS")
      if (fs.exists(committed)) spark.read.parquet(centroidsPath)
      else {
        fs.delete(p, true)
        val trained = graft.operators.Similarity.trainCentroids(
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
    * accumulates for the session's lifetime. */
  def run(spark: SparkSession, parsed: Parsed): Flow = {
    // make the graft SQL surface available to config patterns
    try graft.plans.GraftExtensions.register(spark) catch { case _: Throwable => () }
    // template registrations are declarations: visible to every pattern in
    // the pipeline regardless of step order (tera loads all templates first)
    val registry = parsed.steps.collect { case TemplatesStep(m) => m }
      .foldLeft(Map.empty[String, String])(_ ++ _)
    parsed.steps.foldLeft(Flow(None, None)) { (flow, step) =>
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
            val (ok, err) = applyRules(df, rules, sep, referentialEnv(spark, refs), registry)
            Flow(Some(ok), Some(err))
          }.getOrElse(flow)
        case Referential(name, conn, leftOn, rightOn, dt) =>
          flow(dt).map { df =>
            val ref = conn.load(spark)
            val renamed = ref.columns.foldLeft(ref)((r, c) => r.withColumnRenamed(c, s"${name}_$c"))
            flow.updated(dt, df.join(broadcast(renamed),
              df(leftOn) === renamed(s"${name}_$rightOn"), "left"))
          }.getOrElse(flow)
        case DedupStep(method, id, text, threshold, dt, centroidsPath,
                       hashes, bands, maxBucket, maxHamming,
                       indexTable, indexBuckets, appendIndex) =>
          flow(dt).map { df =>
            val deduped = method match {
              case "exact" => graft.operators.Dedup.exact(df, id, col(text))
              case "incremental" =>
                // batch-vs-corpus dedup against a persisted fingerprint
                // index; first run bootstraps the index from this batch
                require(indexTable.nonEmpty,
                  "dedup method=incremental needs \"index\" (a table name)")
                if (!spark.catalog.tableExists(indexTable)) {
                  val first = graft.operators.Dedup.exact(df, id, col(text))
                  graft.operators.Dedup.buildFingerprintIndex(
                    first, indexTable, indexBuckets, id, col(text))
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
                  val kept = graft.operators.Dedup.dedupAgainstIndex(
                      df, indexTable, id, col(text))
                    .localCheckpoint()
                  if (appendIndex)
                    graft.operators.Dedup.appendToIndex(
                      kept, indexTable, indexBuckets, id, col(text))
                  kept
                }
              case "fingerprint" =>
                graft.operators.Dedup.exact(df, id,
                  graft.operators.TextAnalysis.fingerprintSorted(col(text)))
              case "url" =>
                // `field` names the URL column; keep the min-id row per
                // canonical URL (C4's web pass — case/scheme/www/default
                // port/fragment/tracking-param/param-order insensitive)
                graft.operators.Web.dedupByUrl(df, id, text)
              case "jaccard" =>
                // EXACT token-set Jaccard dedup (AllPairs prefix join —
                // 100% recall where minhash is probabilistic; prefer
                // minhash when candidate volume matters more than
                // exactness). threshold rationalizes to percents.
                val tNum = math.max(1, math.round(threshold * 100).toInt)
                val pairs = graft.operators.Dedup.jaccardJoin(df, id, text,
                    tNum = tNum, tDen = 100, maxBucket = maxBucket)
                  .select(col("id_a").as("a"), col("id_b").as("b"))
                keepRepresentatives(df, id, graft.operators.Dedup.representatives(pairs))
              case "editdist" =>
                // collapse near-identical short strings (names, titles,
                // SKUs) within Levenshtein 1 — FastSS-blocked pairs →
                // connected components → min-id representative; exact
                // dups ride their string group to the same rep
                val pairs = graft.operators.FuzzyJoin.editDistancePairs(
                    df, id, text, maxBucket = maxBucket)
                  .select(col("id_a").as("a"), col("id_b").as("b"))
                val strRep = df.groupBy(col(text).as("__s"))
                  .agg(min(col(id).cast("long")).as("__rep0"))
                val ccReps = graft.operators.Dedup.representatives(pairs)
                  .withColumnRenamed("id", "__cc_id")
                  .withColumnRenamed("rep", "__cc")
                df.join(strRep, df(text) === col("__s"))
                  .join(ccReps, col("__rep0") === col("__cc_id"), "left")
                  .filter(df(id).cast("long") === coalesce(col("__cc"), col("__rep0")))
                  .drop("__s", "__rep0", "__cc_id", "__cc")
              case "minhash" =>
                // hashes/bands/max_bucket expose the LSH operating point:
                // rows-per-band r=hashes/bands sets chance-collision decay
                // (j^r) — the knob that keeps candidates linear at corpus
                // scale; max_bucket is the skew cap
                val pairs = graft.operators.Dedup.minhashPairs(df, id, text,
                  threshold, k = hashes, bands = bands, maxBucket = maxBucket)
                keepRepresentatives(df, id, graft.operators.Dedup.representatives(pairs))
              case "containment" =>
                // drop documents swallowed by a larger one (Broder
                // containment >= threshold of the SMALLER side's tokens);
                // keep-the-larger policy, min-id on equal sizes. Candidates
                // come from winnowing, so only locally-matching pairs join.
                val pairs = graft.operators.Dedup.containmentPairs(
                  df, id, text, maxBucket = maxBucket)
                val thr = if (threshold > 0 && threshold <= 1) threshold else 0.9
                val drops = pairs
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
              case "winnow" =>
                // winnowing candidate graph (Schleimer et al. 2003): docs
                // sharing >= threshold selected fingerprints (threshold is
                // the integer shared-fingerprint floor here, not a jaccard;
                // max_bucket caps a fingerprint's bucket) -> min-id
                // representative per connected component
                val pairs = graft.operators.Dedup.winnowPairs(df, id, text,
                  maxBucket = maxBucket,
                  minShared = math.max(1, threshold.toInt))
                keepRepresentatives(df, id,
                  graft.operators.Dedup.representatives(pairs.select(col("a"), col("b"))))
              case "simhash" =>
                // near-dup graph on 64-bit simhash (hamming <= max_hamming,
                // banded blocking, max_bucket skew cap) -> min-id
                // representative per connected component
                val pairs = graft.operators.Dedup.simhashPairs(
                  df, id, text, maxHamming, maxBucket)
                keepRepresentatives(df, id, graft.operators.Dedup.representatives(pairs))
              case "semdedup" =>
                // `field` names the embedding column; threshold is tau.
                val cents = resolveCentroids(spark, df, centroidsPath,
                  k = 16, iters = 2, id = id, vec = text)
                val kept = graft.operators.Similarity.semDedup(
                    df, cents, threshold, idCol = id, vecCol = text)
                  .select(col(id).as("__keep_id"))
                df.join(kept, df(id) === col("__keep_id"), "left_semi")
              case other => throw new IllegalArgumentException(s"unknown dedup method: $other")
            }
            flow.updated(dt, deduped)
          }.getOrElse(flow)
        case SubstringDedupStep(id, text, n, dt) =>
          flow(dt).map { df =>
            val cleaned = graft.operators.Dedup.removeRepeatedRuns(df, id, text, n)
              .select(col(id).as("__sid"), col("clean_text").as("__clean"))
            flow.updated(dt, df.join(cleaned, df(id) === col("__sid"))
              .withColumn(text, col("__clean")).drop("__sid", "__clean"))
          }.getOrElse(flow)
        case BoilerplateStep(id, text, minDocs, dt) =>
          flow(dt).map { df =>
            val cleaned = graft.operators.Dedup.removeCommonLines(df, id, text, minDocs)
              .select(col(id).as("__bid"), col("clean_text").as("__bclean"))
            flow.updated(dt, df.join(cleaned, df(id) === col("__bid"))
              .withColumn(text, col("__bclean")).drop("__bid", "__bclean"))
          }.getOrElse(flow)
        case ParagraphDedupStep(id, text, dt) =>
          flow(dt).map { df =>
            val cleaned = graft.operators.Dedup.dedupParagraphs(df, id, text)
              .select(col(id).as("__pid"), col("clean_text").as("__pclean"))
            flow.updated(dt, df.join(cleaned, df(id) === col("__pid"))
              .withColumn(text, col("__pclean")).drop("__pid", "__pclean"))
          }.getOrElse(flow)
        case ScrubStep(cols, dt) =>
          flow(dt).map { df =>
            flow.updated(dt, cols.foldLeft(df)((d, c) =>
              d.withColumn(c, graft.operators.TextAnalysis.scrubPii(col(c)))))
          }.getOrElse(flow)
        case QualityFilterStep(id, text, tf, tv, iters, lr, thr, dt) =>
          flow(dt).map { df =>
            val renamed = df.select(col(id).cast("long").as("doc_id"),
              col(text).as("text"), col(tf).as("__tgt"))
            val w = graft.operators.Curation.trainQualityLR(
              renamed, col("__tgt") === tv, iters = iters, lr = lr)
            val keep = graft.operators.Curation.scoreQualityLR(renamed, w)
              .filter(col("score") >= thr).select(col("doc_id").as("__qid"))
            flow.updated(dt,
              df.join(keep, df(id).cast("long") === col("__qid"), "left_semi"))
          }.getOrElse(flow)
        case DsirSelectStep(id, text, tf, tv, k, buckets, dt) =>
          flow(dt).map { df =>
            val renamed = df.select(col(id).cast("long").as("doc_id"),
              col(text).as("text"), col(tf).as("__tgt"))
            val sel = graft.operators.Curation
              .dsirSelect(renamed, col("__tgt") === tv, k, buckets)
              .select(col("doc_id").as("__kid"))
            flow.updated(dt,
              df.join(sel, df(id).cast("long") === col("__kid"), "left_semi"))
          }.getOrElse(flow)
        case QualityBucketsStep(source, id, text, keep, dt) =>
          flow(dt).map { df =>
            val annotated = graft.queries.DataOps.ccnetAnnotate(
              df, source, id, graft.operators.TextAnalysis.qualityScore(col(text)))
            val out = if (keep.isEmpty) annotated
                      else annotated.filter(col("bucket").isin(keep: _*)).drop("bucket")
            flow.updated(dt, out)
          }.getOrElse(flow)
        case MixtureStep(source, id, alpha, dt) =>
          // temperature-scaled per-source downsampling (sizes -> n_s^alpha);
          // alpha = 0 equalizes to the smallest source, 1 keeps everything
          flow(dt).map(df => flow.updated(dt,
            graft.queries.DataOps.mixtureTemperature(df, source, id, alpha)
              .drop("n_s", "min_n"))).getOrElse(flow)
        case SampleStep(fraction, key, dt) =>
          flow(dt).map { df =>
            // deterministic hash-threshold sampling (no RNG state, partition-
            // independent): pmod(xxhash64(key), 2^30) < fraction*2^30 gives
            // ~2^-30 fraction granularity; fraction >= 1 is identity.
            // Null-key policy: null keys are always dropped (xxhash64(NULL)
            // would return the seed and always pass, a silent keep-all flip)
            val out =
              if (fraction >= 1.0) df
              else {
                val n = 1L << 30
                df.filter(col(key).isNotNull &&
                  pmod(xxhash64(col(key).cast("string")), lit(n)) <
                  lit(math.round(fraction * n)))
              }
            flow.updated(dt, out)
          }.getOrElse(flow)
        case TokenBudgetStep(src, id, text, budget, dt) =>
          flow(dt).map { df =>
            val kept = graft.queries.DataOps.sampleTokenBudget(
                df, src, id, text, budget)
              .select(col(id).as("__tb_id"))
            flow.updated(dt, df.join(kept, df(id) === col("__tb_id"), "left_semi"))
          }.getOrElse(flow)
        case SplitStep(keys, train, valF, dt) =>
          flow(dt).map(df => flow.updated(dt,
            graft.queries.DataOps.splitAssign(df, keys, train, valF))).getOrElse(flow)
        case ClusterStep(id, vec, k, nprobe, nCents, maxCell, centsPath, out, dt) =>
          flow(dt).map { df =>
            val cents = resolveCentroids(spark, df, centsPath,
              k = nCents, iters = 2, id = id, vec = vec)
            val g = graft.operators.Similarity.knnGraph(
              df, cents, k = k, nprobe = nprobe, idCol = id, vecCol = vec,
              maxCell = maxCell)
            val reps = graft.operators.Dedup.representatives(
                graft.operators.Similarity.mutualKnn(g))
              .withColumnRenamed("id", "__cl_id").withColumnRenamed("rep", "__cl_rep")
            flow.updated(dt, df.join(reps, df(id) === col("__cl_id"), "left")
              .withColumn(out, coalesce(col("__cl_rep"), df(id).cast("long")))
              .drop("__cl_id", "__cl_rep"))
          }.getOrElse(flow)
        case KnnClassifyStep(id, vec, labelCol, k, out, dt) =>
          flow(dt).map { df =>
            val seeds = df.filter(col(labelCol).isNotNull)
              .select(col(id).as("__s_id"), col(vec).as("__s_vec"),
                col(labelCol).as("__s_label"))
            val pred = graft.operators.Similarity.knnClassify(
                df.filter(col(labelCol).isNull), seeds, k,
                idCol = id, vecCol = vec,
                seedIdCol = "__s_id", seedVecCol = "__s_vec",
                seedLabelCol = "__s_label")
              .select(col(id).as("__p_id"),
                col("pred_label").as("__p_label"))
            flow.updated(dt, df.join(pred, df(id) === col("__p_id"), "left")
              .withColumn(out,
                coalesce(col(labelCol).cast("long"), col("__p_label")))
              .drop("__p_id", "__p_label"))
          }.getOrElse(flow)
        case ZscoreStep(g, v, out, dt) =>
          flow(dt).map(df => flow.updated(dt,
            graft.operators.Curation.zscorePerGroup(df, g, v, out))).getOrElse(flow)
        case SessionizeStep(key, ts, gapMin, out, dt) =>
          flow(dt).map { df =>
            import org.apache.spark.sql.expressions.Window
            val w = Window.partitionBy(col(key)).orderBy(col(ts))
            flow.updated(dt, df
              .withColumn("__prev_ts", lag(col(ts), 1).over(w))
              .withColumn(out, sum(
                when(col("__prev_ts").isNull ||
                  unix_micros(col(ts).cast("timestamp")) -
                    unix_micros(col("__prev_ts").cast("timestamp")) >
                    gapMin * 60000000L, 1L).otherwise(0L)).over(w))
              .drop("__prev_ts"))
          }.getOrElse(flow)
        case FunnelStep(key, ts, tpe, stages, maxGap, dt) =>
          flow(dt).map(df => flow.updated(dt,
            graft.queries.DataOps.funnelStages(df, key, ts, tpe, stages, maxGap)))
            .getOrElse(flow)
        case AttributionStep(key, ts, id, tpe, touch, conv, gapMin, dt) =>
          flow(dt).map(df => flow.updated(dt,
            graft.queries.DataOps.firstTouchAttribution(df, key, ts, id, tpe,
              touch, conv, gapMin * 60000000L))).getOrElse(flow)
        case DebounceStep(key, ts, id, gapSec, dt) =>
          flow(dt).map { df =>
            val kept = graft.queries.DataOps.debounceKeep(df, key, ts, id,
                gapSec * 1000000L)
              .select(col(id).as("__keep_id"))
            flow.updated(dt,
              df.join(kept, df(id).cast("long") === col("__keep_id"), "left_semi"))
          }.getOrElse(flow)
        case WinsorizeStep(g, v, lo, hi, out, dt) =>
          flow(dt).map(df => flow.updated(dt,
            graft.operators.Quantiles.winsorizePerGroup(df, g, v, lo, hi, out))).getOrElse(flow)
        case PageRankStep(src, dst, iters, symmetric, dt) =>
          flow(dt).map { df =>
            val fwd = df.select(col(src).cast("long").as("src"),
              col(dst).cast("long").as("dst"))
            val edges = if (symmetric)
              fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
            else fwd
            flow.updated(dt, graft.operators.Graph.pageRank(edges, iters))
          }.getOrElse(flow)
        case HitsStep(src, dst, iters, dt) =>
          flow(dt).map { df =>
            flow.updated(dt, graft.operators.Graph.hits(
              df.select(col(src).cast("long").as("src"),
                col(dst).cast("long").as("dst")), iters))
          }.getOrElse(flow)
        case TriangleStep(src, dst, dt) =>
          flow(dt).map { df =>
            val e = df.select(
                least(col(src).cast("long"), col(dst).cast("long")).as("a"),
                greatest(col(src).cast("long"), col(dst).cast("long")).as("b"))
              .filter(col("a") < col("b")).distinct()
            flow.updated(dt, graft.operators.Graph.triangleCounts(e))
          }.getOrElse(flow)
        case KCoreStep(src, dst, k, sweeps, dt) =>
          flow(dt).map { df =>
            val e = df.select(
                least(col(src).cast("long"), col(dst).cast("long")).as("a"),
                greatest(col(src).cast("long"), col(dst).cast("long")).as("b"))
              .filter(col("a") < col("b")).distinct()
            flow.updated(dt, graft.operators.Graph.kCore(e, k, sweeps))
          }.getOrElse(flow)
        case CommunitiesStep(src, dst, sweeps, fixpoint, dt) =>
          flow(dt).map { df =>
            val e = df.select(
                least(col(src).cast("long"), col(dst).cast("long")).as("a"),
                greatest(col(src).cast("long"), col(dst).cast("long")).as("b"))
              .filter(col("a") < col("b")).distinct()
            flow.updated(dt,
              graft.operators.Graph.labelPropagation(e, sweeps, fixpoint))
          }.getOrElse(flow)
        case PprStep(src, dst, seeds, iters, symmetric, dt) =>
          flow(dt).map { df =>
            val spark = df.sparkSession
            import spark.implicits._
            require(seeds.nonEmpty, "ppr step needs a non-empty seeds list")
            val fwd = df.select(col(src).cast("long").as("src"),
              col(dst).cast("long").as("dst"))
            val edges = if (symmetric)
              fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
            else fwd
            flow.updated(dt, graft.operators.Graph.pageRankPersonalized(
              edges, seeds.toDF("id"), iters))
          }.getOrElse(flow)
        case WalksStep(src, dst, steps, wpn, seed, symmetric, dt, w) =>
          flow(dt).map { df =>
            val fwd =
              if (w.nonEmpty)
                df.select(col(src).cast("long").as("src"),
                  col(dst).cast("long").as("dst"), col(w).cast("long").as("w"))
              else df.select(col(src).cast("long").as("src"),
                col(dst).cast("long").as("dst"))
            val edges = if (symmetric)
              fwd.unionByName(
                if (w.nonEmpty)
                  fwd.select(col("dst").as("src"), col("src").as("dst"), col("w"))
                else fwd.select(col("dst").as("src"), col("src").as("dst")))
            else fwd
            flow.updated(dt,
              graft.operators.Graph.randomWalks(edges, steps, wpn, seed))
          }.getOrElse(flow)
        case Node2vecStep(src, dst, w, steps, wpn, bR, bN, bF, seed,
                          symmetric, dt) =>
          flow(dt).map { df =>
            val fwd =
              if (w.nonEmpty)
                df.select(col(src).cast("long").as("src"),
                  col(dst).cast("long").as("dst"), col(w).cast("long").as("w"))
              else df.select(col(src).cast("long").as("src"),
                col(dst).cast("long").as("dst"))
            val edges = if (symmetric)
              fwd.unionByName(
                if (w.nonEmpty)
                  fwd.select(col("dst").as("src"), col("src").as("dst"), col("w"))
                else fwd.select(col("dst").as("src"), col("src").as("dst")))
            else fwd
            flow.updated(dt, graft.operators.Graph.node2vecWalks(
              edges, steps, wpn, bR, bN, bF, seed))
          }.getOrElse(flow)
        case SccStep(src, dst, rounds, sweeps, trim, dt) =>
          flow(dt).map { df =>
            flow.updated(dt, graft.operators.Graph.stronglyConnectedComponents(
              df.select(col(src).cast("long").as("src"),
                col(dst).cast("long").as("dst")), rounds, sweeps, trim))
          }.getOrElse(flow)
        case SsspStep(src, dst, w, seeds, sweeps, symmetric, fixpoint, dt) =>
          flow(dt).map { df =>
            val spark = df.sparkSession
            val fwd =
              if (w.nonEmpty)
                df.select(col(src).cast("long").as("src"),
                  col(dst).cast("long").as("dst"), col(w).cast("long").as("w"))
              else df.select(col(src).cast("long").as("src"),
                col(dst).cast("long").as("dst"))
            val edges = if (symmetric)
              fwd.unionByName(
                if (w.nonEmpty)
                  fwd.select(col("dst").as("src"), col("src").as("dst"), col("w"))
                else fwd.select(col("dst").as("src"), col("src").as("dst")))
            else fwd
            val seedDf =
              if (seeds.nonEmpty) {
                import spark.implicits._
                seeds.toDF("id")
              } else
                // default seed = the minimum node id over BOTH endpoints
                // (ADVICE r14: min over src alone skips a node appearing
                // only as a destination in a directed flow)
                edges.agg(least(min(col("src")), min(col("dst"))).as("id"))
            flow.updated(dt,
              graft.operators.Graph.shortestPaths(edges, seedDf, sweeps,
                fixpoint))
          }.getOrElse(flow)
        case LouvainStep(src, dst, levels, sweeps, dt) =>
          flow(dt).map { df =>
            val e = df.select(
                least(col(src).cast("long"), col(dst).cast("long")).as("a"),
                greatest(col(src).cast("long"), col(dst).cast("long")).as("b"))
              .filter(col("a") < col("b")).distinct()
            flow.updated(dt, graft.operators.Graph.louvain(e, levels, sweeps))
          }.getOrElse(flow)
        case SketchPercentilesStep(group, id, field, k, specs, dt) =>
          flow(dt).map { df =>
            flow.updated(dt, graft.operators.Quantiles
              .hashSampleQuantiles(df, group, id, field, k, specs))
          }.getOrElse(flow)
        case ModularityStep(src, dst, sweeps, dt) =>
          flow(dt).map { df =>
            val e = graft.operators.CacheOps.persistMaterialized(
              df.select(
                  least(col(src).cast("long"), col(dst).cast("long")).as("a"),
                  greatest(col(src).cast("long"), col(dst).cast("long")).as("b"))
                .filter(col("a") < col("b")).distinct())
            val labels = graft.operators.Graph.labelPropagation(e, sweeps)
            try flow.updated(dt, graft.operators.Graph.modularity(e, labels))
            finally {
              e.unpersist(blocking = false)
              labels.unpersist(blocking = false)
            }
          }.getOrElse(flow)
        case WeightedSampleStep(group, id, weight, k, dt) =>
          flow(dt).map { df =>
            val keep = graft.queries.DataOps
              .weightedSamplePerGroup(df, group, id, weight, k)
              .select(col(group), col(id).cast("long").as(id))
            flow.updated(dt, df.join(keep,
              df(group) === keep(group) && df(id).cast("long") === keep(id),
              "left_semi"))
          }.getOrElse(flow)
        case ChunkStep(id, field, maxTok, stride, dt) =>
          flow(dt).map(df => flow.updated(dt,
            graft.queries.DataOps.chunkDocs(df, id, field, maxTok, stride))).getOrElse(flow)
        case PackStep(id, field, maxTok, shards, dt) =>
          flow(dt).map(df => flow.updated(dt,
            graft.queries.DataOps.packSequences(df, id, field, maxTok, shards))).getOrElse(flow)
        case ParetoStep(x, y, width, dt) =>
          flow(dt).map(df => flow.updated(dt,
            graft.operators.Skyline.paretoFront2(df, x, y, width))).getOrElse(flow)
        case ShardStep(id, field, mass, shards, dt) =>
          flow(dt).map { df =>
            val (src, mcol) =
              if (mass.nonEmpty) (df, mass)
              else (df.withColumn("__mass", graft.operators.TextAnalysis
                .tokenCountWs(col(field)).cast("bigint")), "__mass")
            val out = graft.operators.Bucketing
              .shardByMass(src, Seq(id), mcol, shards)
            flow.updated(dt, if (mass.nonEmpty) out else out.drop("__mass"))
          }.getOrElse(flow)
        case LayoutStep(mode, target, keys, sorts, n, dt) =>
          flow(dt).foreach { df =>
            mode match {
              case "bucket" =>
                require(n > 0, "layout mode=bucket needs \"buckets\" > 0")
                graft.operators.Bucketing.writeBucketed(df, target, n, keys, sorts)
              case "range" =>
                val parts = if (n > 0) n
                  else df.sparkSession.sessionState.conf.numShufflePartitions
                graft.operators.Bucketing.writeRangeClustered(df, target,
                  if (keys.nonEmpty) keys else sorts, parts)
              case "zorder" =>
                // two-key Morton clustering: per-file min/max stats prune
                // selective scans on EITHER key
                require(keys.size == 2, "layout mode=zorder needs exactly 2 \"by\" keys")
                val parts = if (n > 0) n
                  else df.sparkSession.sessionState.conf.numShufflePartitions
                graft.operators.Bucketing.writeZOrdered(df, target,
                  keys.head, keys(1), parts)
              case "compact" =>
                // table maintenance on the TARGET directory (the flow frame
                // is not consumed): rewrite small files toward
                // target_file_mb-sized ones
                val mb = if (n > 0) n else 128
                graft.operators.Bucketing.compact(df.sparkSession, target,
                  mb.toLong * 1024 * 1024)
              case "shuffle" =>
                // deterministic training-export shuffle: one file per
                // shard, rows in seeded permutation order
                require(keys.nonEmpty, "layout mode=shuffle needs \"keys\"")
                val parts = if (n > 0) n
                  else df.sparkSession.sessionState.conf.numShufflePartitions
                graft.operators.Bucketing.writeShuffled(df, target, keys, parts)
              case other =>
                throw new IllegalArgumentException(s"unknown layout mode: $other")
            }
          }
          flow
        case Writer(conn, dt) =>
          // a streaming flow (reader had "stream": true) writes through the
          // streaming sink; the SAME config otherwise runs batch
          flow(dt).foreach(df => if (df.isStreaming) conn.saveStream(df) else conn.save(df))
          flow
      }
    }
  }

  def run(spark: SparkSession, config: String): Flow = run(spark, parse(config))

  def run(spark: SparkSession, config: String,
          transport: graft.sources.Http.Transport): Flow =
    run(spark, parse(config, transport))

  def run(spark: SparkSession, config: String,
          transport: graft.sources.Http.Transport,
          mongoClient: Option[graft.sources.MongoConnector.Client]): Flow =
    run(spark, parse(config, transport, mongoClient))
}
