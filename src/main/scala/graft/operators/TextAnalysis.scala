package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (SURVEY §2.5: language-ID, quality scoring, token counting, document
  * fingerprinting).
  *
  * Everything is a pure Column expression — the whole pack runs inside one
  * WholeStageCodegen span over the scan, so a 100 TB corpus pays one pass
  * and zero shuffles for per-document scoring.
  */
object TextAnalysis {

  /** Whitespace tokens. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  def tokenCountWs(c: Column): Column = size(tokens(c))

  /** BPE-ish subword proxy: alpha runs, digit runs, single punctuation. */
  val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def tokenCountBpe(c: Column): Column =
    size(regexp_extract_all(c, lit(BpePattern), lit(0)))

  /** Mean word length (chars-without-spaces / word count). */
  def avgWordLen(c: Column): Column =
    length(regexp_replace(c, "\\s+", "")).cast("double") /
      tokenCountWs(c).cast("double")

  /** Stopword-profile table: tiny per-language discriminative sets. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "los"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en"),
    "de" -> Seq("der", "die", "und", "das", "von", "mit", "ein"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我"))

  /** Language ID: argmax of per-language stopword hits with a fixed
    * precedence order on ties; "und" when nothing matches. */
  val langOrder: Seq[String] = Seq("en", "es", "fr", "de", "zh")

  def langId(c: Column): Column = {
    val toks = array_distinct(tokens(lower(c)))
    val hits = langOrder.map(l =>
      l -> size(array_intersect(toks, array(stopwords(l).map(lit): _*))))
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    hits.foldRight(lit("und"): Column) { case ((l, h), acc) =>
      when(h === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** Heuristic quality score in [0,1]: length band + word-length band +
    * punctuation penalty. Deterministic arithmetic (no rounding). */
  def qualityScore(c: Column): Column = {
    val nw = tokenCountWs(c).cast("double")
    val wl = avgWordLen(c)
    val punct = size(regexp_extract_all(c, lit("[^A-Za-z0-9\\s]"), lit(0))).cast("double") /
      greatest(length(c).cast("double"), lit(1.0))
    val lenScore = least(nw / lit(100.0), lit(1.0))
    val wlScore = when(wl >= 3.0 && wl <= 10.0, lit(1.0)).otherwise(lit(0.5))
    val punctScore = greatest(lit(0.0), lit(1.0) - punct * 5.0)
    // the wlScore `otherwise` branch would otherwise hand NULL text a 0.55
    // score — enough to pass a quality filter; null in, null out
    when(c.isNull, lit(null).cast("double"))
      .otherwise(lenScore * 0.4 + wlScore * 0.3 + punctScore * 0.3)
  }

  /** Compression-ratio quality signal (carried per document by
    * RedPajama-v2 and Dolma): raw UTF-8 byte length / DEFLATE byte
    * length. Natural prose lands around 2-4; heavily repetitive or
    * templated text far above; near-random gibberish at ~1. Both tails
    * are filter candidates. Null and empty text → null (deflate emits a
    * 2-byte empty block, so 0-length has no meaningful ratio). */
  def compressionRatio(c: Column): Column =
    when(c.isNull || octet_length(c) === 0, lit(null).cast("double"))
      .otherwise(octet_length(c).cast("double") /
        graft.plans.Native.deflateLen(c).cast("double"))

  /** One-pass codepoint histogram stats (struct n_cp/distinct_cp/top_cp_n/
    * sumsq) — see [[graft.plans.CharDiversity]]. Scan-stage, no explode. */
  def charStats(c: Column): Column = graft.plans.Native.charDiversity(c)

  /** Simpson's diversity index 1 − Σn_c²/N² over characters — the log-free
    * character-entropy cousin (higher = more diverse; near 0 = one
    * character dominates, the gibberish/template-spam signal). Exactly two
    * IEEE ops over exact longs, so SQL oracles reproduce it bit-for-bit. */
  def simpsonDiversity(stats: Column): Column =
    when(stats.getField("n_cp") === 0, lit(null).cast("double"))
      .otherwise(lit(1.0) - stats.getField("sumsq").cast("double") /
        (stats.getField("n_cp").cast("double") * stats.getField("n_cp").cast("double")))

  /** Fraction of the document taken by its single most frequent character
    * (MassiveText-style concentration filter). */
  def topCharFraction(stats: Column): Column =
    when(stats.getField("n_cp") === 0, lit(null).cast("double"))
      .otherwise(stats.getField("top_cp_n").cast("double") /
        stats.getField("n_cp").cast("double"))

  /** OpenRefine-style collision fingerprint: md5 of sorted distinct tokens —
    * stable under word reorder, the exact-dedup key for shuffled text. */
  def fingerprintSorted(c: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(lower(c)))), " ").cast("binary"))

  /** PII scrubbing: redact emails, URLs, and long digit runs (the standard
    * pre-training hygiene pass). Pure regexp_replace — codegen'd, one scan. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlPattern   = "https?://[^\\s]+"
  val LongDigitPattern = "[0-9]{6,}"

  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailPattern, "<EMAIL>"),
        UrlPattern, "<URL>"),
      LongDigitPattern, "<NUM>")

  /** Repetition ratio: fraction of non-distinct token n-grams (high value =
    * boilerplate/repetitive doc — the Gopher-style repetition filter). */
  def repetitionRatio(toks: Column, n: Int = 2): Column = {
    val grams = when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
    lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams).cast("double")
  }

  /** EXACT heavy hitters at bounded memory — every term whose frequency
    * exceeds N/k token occurrences, two passes (Misra & Gries 1982):
    *
    *  1. candidates: ONE [[graft.plans.MisraGries]] summary over hashed
    *     terms (≤ k counters per buffer, map-side partials — the whole
    *     exchange is ≤ k entries per partition, where an exact groupBy
    *     would shuffle the full 100 TB vocabulary). The sketch guarantees
    *     every value with frequency > N/(k+1) survives, so candidates ⊇
    *     the true > N/k set. Total N folds into the same pass.
    *  2. recount: re-scan filtered to candidate hashes (a ≤ k-entry
    *     IN-set the scan applies map-side), exact groupBy over the
    *     SURVIVING sliver only, keep `cnt * k > N` — integer-rational,
    *     so the output is the provably exact heavy-hitter set: the
    *     sketch's order-dependence selects candidates, never answers.
    *
    * Term hashing cannot lose a heavy hitter (a term's hash occurs at
    * least as often as the term) and the string recount is immune to
    * collisions. Output: (term, cnt), the exact count of each heavy term.
    */
  def heavyHitters(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val spark = docs.sparkSession
    val stream = docs.select(explode(tokens(lower(col(textCol)))).as("term"))
    val sketch = stream.agg(
      count(lit(1)).as("n"),
      graft.plans.Native.misraGries(xxhash64(col("term")), k).as("mg")).head()
    val n = sketch.getLong(0)
    val candidates =
      if (sketch.isNullAt(1)) Seq.empty[Long]
      else sketch.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(0))
    if (n == 0L || candidates.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("term",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("cnt",
            org.apache.spark.sql.types.LongType))))
    else stream
      .filter(xxhash64(col("term")).isInCollection(candidates))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(k.toLong) > lit(n))
  }

  /** Within-document repeated-LINE removal — the boilerplate cleanup that
    * drops navigation bars / cookie banners repeated inside one page
    * (C4's "deduplicate lines within a document" rule, scan-stage and
    * map-only at any corpus size): split on newline, keep each line's
    * FIRST occurrence in order (Spark's array_distinct preserves
    * first-occurrence order), re-join. Cross-document line dedup is
    * [[graft.operators.Dedup]] paragraph dedup; this is the per-row rule. */
  def dedupLines(c: Column): Column =
    concat_ws("\n", array_distinct(split(c, "\n")))

  /** Top-k DISTINCTIVE terms per group by chi-squared over-representation
    * — "what vocabulary sets this source apart" (corpus drift detection,
    * per-source fingerprinting; the log-free cousin of PMI keyword
    * extraction, chosen because χ² = n(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) is
    * a fixed rational IEEE chain over exact long counts where PMI's log
    * is not bit-portable).
    *
    * Shape: one (group, term) count shuffle; term totals join on term;
    * group totals and the scalar n broadcast; χ² is map-stage; ranking is
    * [[graft.plans.TopKByScoreStr]] — a bounded k-entry heap per group
    * with map-side partials, so a 10⁹-term vocabulary never funnels
    * through a per-group sort. Only over-represented terms (ad > bc)
    * rank; ties break term-ascending (ASCII ≡ UTF8 binary order).
    * Long-overflow bound: a·d < 2⁶³ per (group, term) — beyond ~3·10⁹
    * tokens route the counts through DECIMAL(38). */
  def distinctiveTerms(docs: DataFrame, groupCol: String, textCol: String,
                       k: Int = 5): DataFrame = {
    val s = docs.select(col(groupCol).as("g"),
      explode(tokens(lower(col(textCol)))).as("term"))
    val a = s.groupBy(col("g"), col("term")).agg(count(lit(1)).as("a"))
    val tTot = a.groupBy(col("term")).agg(sum(col("a")).as("t"))
    val gTot = a.groupBy(col("g")).agg(sum(col("a")).as("s"))
    val nTot = gTot.agg(sum(col("s")).as("n"))
    val scored = a.join(tTot, "term")
      .join(broadcast(gTot), "g")
      .crossJoin(broadcast(nTot))
      .withColumn("diff",
        (col("a") * (col("n") - col("t") - col("s") + col("a"))
          - (col("t") - col("a")) * (col("s") - col("a"))).cast("double"))
      .filter(col("diff") > 0)
      .withColumn("chi2",
        (col("n").cast("double") * (col("diff") * col("diff"))) /
          ((col("t").cast("double") * (col("n") - col("t")).cast("double")) *
            (col("s").cast("double") * (col("n") - col("s")).cast("double"))))
      .filter(col("chi2").isNotNull)
    scored.groupBy(col("g"))
      .agg(graft.plans.Native.topKByScoreStr(col("chi2"), col("term"), k).as("tk"))
      .select(col("g"), posexplode(col("tk")).as(Seq("i", "e")))
      .select(col("g").as(groupCol), (col("i") + 1).cast("long").as("rnk"),
        col("e.term").as("term"), col("e.score").as("chi2"))
  }
}
