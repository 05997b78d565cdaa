package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** DSIR-style data selection via hashed n-gram importance weights (Xie et
  * al. 2023, "Data Selection for Language Models via Importance
  * Resampling", arXiv:2302.03169): documents from a raw corpus are scored
  * by how much their hashed unigram+bigram feature distribution resembles
  * a small TARGET sample (e.g. a trusted high-quality source) relative to
  * the raw corpus, and the best k are selected.
  *
  * Scale shape (the 100 TB contract): the feature stream is a map-side
  * explode inside the scan stage; BOTH per-bucket count tables (target and
  * raw) come out of ONE `buckets`-row aggregate over that stream (partial
  * map-side, so the shuffle carries ≤ buckets rows per partition); the
  * ratio table is broadcast back onto the stream; the per-document
  * reduction partial-aggregates before its one narrow shuffle; and the
  * final selection is the bounded [[graft.plans.Native.topKByScore]] heap
  * — k pairs per partition, no global sort, nothing corpus-sized ever
  * collected.
  */
object Curation {

  /** Portable 60-bit gram hash (15 hex chars of md5, the
    * qDedupSimhashExact pattern) mod `buckets` — bit-replicable in the
    * DuckDB oracle, unlike xxhash64. */
  def featureBucket(gram: Column, buckets: Int): Column =
    pmod(conv(substring(md5(gram), 1, 15), 16, 10).cast("long"),
      lit(buckets.toLong))

  /** Hashed unigram+bigram occurrence stream: one row per feature
    * OCCURRENCE — (doc_id, is_t, b). Map-side only: tokenize, explode,
    * hash all run inside the scan stage. `flagged` must carry an `is_t`
    * boolean marking target-sample membership. */
  private def featureStream(flagged: DataFrame, buckets: Int): DataFrame = {
    val toks = flagged.select(col("doc_id"), col("is_t"),
      split(trim(lower(col("text"))), "\\s+").as("t"))
    // two explodes unioned, NOT one explode of a concatenated uni++bi
    // array: measured at sf0.1 the fused form is 1.7× SLOWER (3.77 s vs
    // 2.21 s steady-state) — materializing the concat array per row costs
    // more than the second lightweight scan of the text column
    val uni = toks.select(col("doc_id"), col("is_t"), explode(col("t")).as("g"))
    val bi = toks.select(col("doc_id"), col("is_t"), explode(
      when(size(col("t")) >= 2,
        transform(sequence(lit(0), size(col("t")) - 2),
          i => array_join(slice(col("t"), i + 1, lit(2)), " ")))
        .otherwise(array().cast("array<string>"))).as("g"))
    uni.unionAll(bi)
      .select(col("doc_id"), col("is_t"), featureBucket(col("g"), buckets).as("b"))
  }

  /** Per-bucket occurrence counts (b, t, r): target and raw (= everything,
    * target included) in a single pass over the stream. Only buckets that
    * occur are present — fine, because every candidate occurrence joins a
    * bucket with r ≥ 1 by construction. */
  private def bucketCounts(stream: DataFrame): DataFrame =
    stream.groupBy(col("b")).agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("t"),
      count(lit(1)).as("r"))

  /** [[bucketCounts]] collected once (≤ `buckets` rows, driver-sized by
    * construction — the ratio table broadcasts anyway) into a local
    * (b, t, r) frame, with the target and raw totals (T, R). Every reuse
    * reads the local rows, never the gram explode again. */
  private def localCounts(stream: DataFrame): (DataFrame, Long, Long) = {
    val rows = bucketCounts(stream).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    (stream.sparkSession.createDataFrame(rows).toDF("b", "t", "r"),
      rows.map(_._2).sum, rows.map(_._3).sum)
  }

  /** Deterministic oracle-exact selection — the FULL-gate path (the
    * portable-simhash-twin pattern; the paper's log estimator is
    * [[dsirLogWeights]]). Per bucket, with add-1 smoothed evidence
    * t̂ = (t_b+1)·(R+B) and r̂ = (r_b+1)·(T+B), the integer ratio
    *
    *   lr_b = ⌊2·scale·t̂ / (t̂+r̂)⌋ − scale   ∈ [−scale, scale]
    *
    * is the bounded odds contrast scale·(t̂−r̂)/(t̂+r̂): zero-centered,
    * monotone in the smoothed likelihood ratio, saturating — it tracks
    * the SIGN and ordering of the per-bucket log ratio without ln
    * (ln is not bit-portable across engines). Per-doc score =
    * Σ occurrences lr_b, an exact long sum. The double stage computes
    * two products, one sum, one division, one floor — every op
    * correctly-rounded IEEE with a fixed shape, so both engines produce
    * identical bits at any magnitude (no integer-overflow cliff: the
    * doubles carry the scale, the floor re-enters exact integers).
    *
    * Returns the k best NON-target docs as (doc_id, score), score
    * descending, doc_id ascending on ties. |score| ≤ grams(x)·scale ≪
    * 2^53, so the double cast inside the top-k heap is order-exact and
    * the cast back to bigint is lossless. */
  def dsirSelect(docs: DataFrame, isTarget: Column, k: Int,
                 buckets: Int = 1024, scale: Long = 10000L): DataFrame = {
    val stream = featureStream(docs.withColumn("is_t", isTarget), buckets)
    val (counts, tt, rr) = localCounts(stream)
    val tn = (col("t") + 1L).cast("double") * lit(rr + buckets).cast("double")
    val rn = (col("r") + 1L).cast("double") * lit(tt + buckets).cast("double")
    val lr = counts.select(col("b"),
      (floor(lit(2.0 * scale) * tn / (tn + rn)) - scale).as("lr"))
    stream.filter(!col("is_t"))
      .join(broadcast(lr), "b")
      .groupBy(col("doc_id")).agg(sum(col("lr")).as("score"))
      .agg(graft.plans.Native.topKByScore(
        col("score").cast("double"), col("doc_id").cast("long"), k).as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.id").as("doc_id"), col("e.cos").cast("bigint").as("score"))
  }

  /** Hashed word n-gram shingle stream: one row per occurrence, (h) only.
    * Map-side explode + portable 60-bit hash inside the scan stage. */
  private def shingleHashes(docs: DataFrame, n: Int): DataFrame = {
    val toks = docs.select(split(trim(lower(col("text"))), "\\s+").as("t"))
    toks.select(explode(
      when(size(col("t")) >= n,
        transform(sequence(lit(0), size(col("t")) - n),
          i => array_join(slice(col("t"), i + 1, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))).as("g"))
      .select(conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("h"))
  }

  /** Corpus-overlap estimation via bottom-k (KMV) sketches (Bar-Yossef et
    * al. 2002; the corpus-granularity contamination check — "how much of
    * eval's shingle space does train cover?"). Each corpus reduces to its
    * k smallest DISTINCT shingle hashes ([[graft.plans.Native.bottomKDistinct]]
    * — ≤ k longs per partition buffer, no corpus-wide distinct shuffle, no
    * global sort); the unbiased estimator intersects the two sketches
    * inside the union's bottom-k:
    *
    *   Ĵ(A,B) = |U ∩ S_A ∩ S_B| / |U|,  U = bottom-k(S_A ∪ S_B)
    *
    * One row out: (n_union, n_both, jaccard_est). The division is a
    * single IEEE op on integers, so the gate is bit-exact. Standard
    * error ≈ 1/√k (k=512 → ±4.4%). */
  def corpusOverlap(a: DataFrame, b: DataFrame, k: Int = 512,
                    n: Int = 3): DataFrame =
    sketchEstimate(
      shingleHashes(a, n)
        .agg(graft.plans.Native.bottomKDistinct(col("h"), k).as("sa")),
      shingleHashes(b, n)
        .agg(graft.plans.Native.bottomKDistinct(col("h"), k).as("sb")), k)

  /** Pairwise overlap MATRIX across sources: one KMV sketch per group
    * (the [[corpusOverlap]] estimator generalized from 2 corpora to G) —
    * "which sources are crawling the same web" at a glance. The corpus
    * is scanned ONCE into per-group bottom-k sketches (≤ k longs per
    * aggregation buffer, the usual bound); every downstream step runs on
    * the GROUPS-sized sketch table — the G(G−1)/2 pair join moves k-long
    * arrays, never shingles — so the matrix costs one corpus pass plus
    * cluster-metadata work regardless of corpus size. The sketch frame
    * feeds both join sides and is persisted/released around the
    * pairs-sized result. Estimator and exactness contract are
    * [[corpusOverlap]]'s (Ĵ = |U∩S_a∩S_b|/|U|, single IEEE division). */
  def sourceOverlapMatrix(d: DataFrame, groupCol: String, k: Int = 512,
                          n: Int = 3): DataFrame = {
    val toks = d.select(col(groupCol).as("s"),
      split(trim(lower(col("text"))), "\\s+").as("t"))
    val hashed = toks.select(col("s"), explode(
        when(size(col("t")) >= n,
          transform(sequence(lit(0), size(col("t")) - n),
            i => array_join(slice(col("t"), i + 1, lit(n)), " ")))
          .otherwise(array().cast("array<string>"))).as("g"))
      .select(col("s"), conv(substring(md5(col("g")), 1, 15), 16, 10)
        .cast("long").as("h"))
    CacheOps.holding { h =>
      val sk = h.persistMaterialized(hashed.groupBy(col("s"))
        .agg(graft.plans.Native.bottomKDistinct(col("h"), k).as("sk")))
      val a = sk.select(col("s").as("src_a"), col("sk").as("sa"))
      val b = sk.select(col("s").as("src_b"), col("sk").as("sb"))
      val u = slice(array_sort(array_union(col("sa"), col("sb"))), 1, k)
      val both = size(array_intersect(array_intersect(u, col("sa")), col("sb")))
      // DETACHED: the sk release on return would otherwise recache
      // (invalidate) the result and re-run the sketch build on first read
      h.detached(a.join(b, col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"),
          size(u).cast("bigint").as("n_union"), both.cast("bigint").as("n_both"),
          (both.cast("double") / size(u).cast("double")).as("jaccard_est")))
    }
  }

  /** Ĵ from two one-row sketch frames (columns sa / sb). */
  private def sketchEstimate(ska: DataFrame, skb: DataFrame, k: Int): DataFrame = {
    val u = slice(array_sort(array_union(col("sa"), col("sb"))), 1, k)
    val both = size(array_intersect(array_intersect(u, col("sa")), col("sb")))
    ska.crossJoin(skb).select(
      size(u).cast("bigint").as("n_union"),
      both.cast("bigint").as("n_both"),
      (both.cast("double") / size(u).cast("double")).as("jaccard_est"))
  }

  /** Persist a corpus's bottom-k shingle sketch (one row: k sorted long
    * hashes — a few KB no matter the corpus size) so later overlap
    * checks never rescan the corpus: the incremental sibling of
    * [[corpusOverlap]], completing the index family (exact fingerprint /
    * minhash / semdedup anchors / IVF cells → overlap sketch). Crash-safe
    * via temp-dir + rename (the persisted-centroids contract): a killed
    * run leaves either nothing or a fully-committed sketch. */
  def buildOverlapSketch(corpus: DataFrame, path: String, k: Int = 512,
                         n: Int = 3): Unit = {
    val sk = shingleHashes(corpus, n)
      .agg(graft.plans.Native.bottomKDistinct(col("h"), k).as("sketch"))
    val spark = corpus.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(
      path + "__tmp-" + java.util.UUID.randomUUID())
    sk.coalesce(1).write.parquet(tmp.toString)
    val dest = new org.apache.hadoop.fs.Path(path)
    fs.delete(dest, true)
    require(fs.rename(tmp, dest), s"could not commit overlap sketch to $path")
  }

  /** Overlap estimate of a batch against a persisted corpus sketch —
    * the corpus itself is never read. Same estimator and output shape as
    * [[corpusOverlap]]; `k` and `n` must match the build. */
  def overlapAgainstSketch(b: DataFrame, path: String, k: Int = 512,
                           n: Int = 3): DataFrame = {
    sketchEstimate(
      b.sparkSession.read.parquet(path).select(col("sketch").as("sa")),
      shingleHashes(b, n)
        .agg(graft.plans.Native.bottomKDistinct(col("h"), k).as("sb")), k)
  }

  /** Per-doc hashed feature counts (doc_id, is_t, b, c) — the sparse
    * design matrix for the quality classifier. */
  private def featureCounts(flagged: DataFrame, buckets: Int): DataFrame =
    featureStream(flagged, buckets)
      .groupBy(col("doc_id"), col("is_t"), col("b"))
      .agg(count(lit(1)).as("c"))

  /** CCNet/fastText-style discriminative quality classifier: logistic
    * regression on hashed unigram+bigram counts, trained target(y=1) vs
    * raw(y=0) by full-batch gradient descent (Wenzek et al. 2020 train
    * exactly this shape to score CommonCrawl against Wikipedia).
    *
    * Each iteration is ONE distributed pass: the (B+1)-row weight table
    * broadcasts onto the persisted sparse feature frame, per-doc margins
    * reduce map-side, the gradient aggregates two-phase on the bucket key
    * (≤ B+1 rows per partition shuffle), and only the (B+1)-long gradient
    * ever reaches the driver — the same small-model contract as
    * [[Similarity.trainCentroids]] (k·dim centroid collect). Nothing
    * corpus-sized is collected, sorted, or windowed at any step.
    *
    * Returns weights as (b, w) with the bias at b = -1. Determinism note:
    * iteration 1 from w=0 is EXACT (sigmoid(0) = 1/2, so every product is
    * a dyadic rational — order-independent double sums; the q_quality_lr
    * gate pins that step against the DuckDB oracle bit-for-bit); later
    * iterations involve exp, whose sums are order-sensitive in the last
    * ulps, so the trained path is spec-gated on fixtures instead. */
  def trainQualityLR(docs: DataFrame, isTarget: Column, buckets: Int = 1024,
                     iters: Int = 8, lr: Double = 0.5,
                     l2: Double = 0.0): DataFrame = CacheOps.holding { h =>
    val spark = docs.sparkSession
    val feats = h.persist(featureCounts(docs.withColumn("is_t", isTarget), buckets))
    var w = Array.fill(buckets + 1)(0.0) // index buckets = bias
    for (_ <- 0 until iters) {
      val wDf = spark.createDataFrame(
        w.zipWithIndex.map { case (v, i) =>
          (if (i == buckets) -1L else i.toLong, v)
        }.toIndexedSeq).toDF("b", "w")
      val bias = w(buckets)
      val margins = feats.join(broadcast(wDf), "b")
        .groupBy(col("doc_id"), col("is_t"))
        .agg(sum(col("c") * col("w")).as("dot"))
        .select(col("doc_id"), col("is_t"),
          (lit(1.0) / (lit(1.0) + exp(-(col("dot") + lit(bias)))) -
            when(col("is_t"), 1.0).otherwise(0.0)).as("err"))
      val grad = feats.join(margins.select(col("doc_id"), col("err")), "doc_id")
        .groupBy(col("b")).agg(sum(col("err") * col("c")).as("g"))
        .unionAll(margins.agg(sum(col("err")).as("g"))
          .select(lit(-1L).as("b"), col("g")))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      w = w.zipWithIndex.map { case (v, i) =>
        val b = if (i == buckets) -1L else i.toLong
        v - lr * (grad.getOrElse(b, 0.0) + l2 * v)
      }
    }
    spark.createDataFrame(
      w.zipWithIndex.map { case (v, i) =>
        (if (i == buckets) -1L else i.toLong, v)
      }.toIndexedSeq).toDF("b", "w")
  }

  /** Score every doc with trained weights: (doc_id, score) where score
    * is the raw margin w·x + bias (monotone in the quality probability
    * sigmoid(score); kept un-squashed so exact-arithmetic paths stay
    * exact). One broadcast join + one map-side-combined reduction. */
  def scoreQualityLR(docs: DataFrame, weights: DataFrame,
                     buckets: Int = 1024): DataFrame = {
    val feats = featureCounts(docs.withColumn("is_t", lit(false)), buckets)
    feats.join(broadcast(weights.filter(col("b") >= 0)), "b")
      .groupBy(col("doc_id")).agg(sum(col("c") * col("w")).as("dot"))
      .crossJoin(broadcast(weights.filter(col("b") === -1L).select(col("w").as("bias"))))
      .select(col("doc_id"), (col("dot") + col("bias")).as("score"))
  }

  /** Paper-faithful log importance weight for every non-target doc:
    * logw(x) = Σ_b c_b(x) · ln( ((t_b+1)/(T+B)) / ((r_b+1)/(R+B)) )
    * with B = buckets, T/R = total target/raw occurrences (add-1
    * multinomial smoothing, DSIR §3). ln is NOT bit-portable across
    * engines (JVM intrinsics vs libm differ in ulps), so this path is
    * spec-gated on fixtures while [[dsirSelect]] pins the shared
    * pipeline against the DuckDB oracle. */
  def dsirLogWeights(docs: DataFrame, isTarget: Column,
                     buckets: Int = 1024): DataFrame = {
    val stream = featureStream(docs.withColumn("is_t", isTarget), buckets)
    val (counts, tt, rr) = localCounts(stream)
    val lr = counts.select(col("b"), log(
        ((col("t") + 1L) * lit(rr + buckets)).cast("double") /
          ((col("r") + 1L) * lit(tt + buckets)).cast("double"))
      .as("lr"))
    stream.filter(!col("is_t"))
      .join(broadcast(lr), "b")
      .groupBy(col("doc_id")).agg(sum(col("lr")).as("logw"))
  }

  /** Per-group z-score standardization of an INTEGRAL signal — the step
    * before combining heterogeneous quality signals (token counts, scores)
    * across sources whose raw scales differ. Exactness discipline: the
    * naive (x−μ)/σ runs through order-dependent double sums; here the
    * moments are EXACT longs (n, S1=Σx, S2=Σx²) from one map-side-combined
    * groupBy, and z = (n·x − S1) / sqrt(n·S2 − S1²) — algebraically equal
    * to (x−μ)/σ_pop but a two-op IEEE chain over exactly-representable
    * integers, so cross-engine bit parity holds. Stats broadcast back
    * (groups are cluster-metadata-sized); the z itself is map-stage.
    * Degenerate groups (single row or constant signal) get null. Overflow
    * note: n·S2 must fit a long — at 100 TB with x ≈ 10⁴ tokens and
    * 10¹² rows per group, route `value` through a pre-scaled bucket or
    * DECIMAL(38) sums; at any per-group n·x² < 2⁶³ the longs are exact. */
  def zscorePerGroup(df: DataFrame, groupCol: String, valueCol: String,
                     out: String = "z"): DataFrame = {
    val v = col(valueCol).cast("long")
    // count(v), not count(*): n must cover exactly the rows the sums cover,
    // or any group containing nulls gets an inflated n and silently wrong z.
    val stats = df.groupBy(col(groupCol)).agg(
      count(v).as("__n"),
      sum(v).as("__s1"),
      sum(v * v).as("__s2"))
    val num = (col("__n") * v - col("__s1")).cast("double")
    val den = sqrt((col("__n") * col("__s2") - col("__s1") * col("__s1")).cast("double"))
    df.join(broadcast(stats), groupCol)
      .withColumn(out, when(den > lit(0.0), num / den))
      .drop("__n", "__s1", "__s2")
  }

  /** Per-group Pearson correlation between two INTEGRAL signals with
    * EXACT moments — "do my quality signals measure the same thing?" is
    * the question before combining them, and `corr()` answers it with an
    * order-dependent double accumulation. Here one map-side-combined
    * groupBy gathers n, Σx, Σy, Σx², Σy², Σxy as exact longs and
    * r = (n·Σxy − Σx·Σy) / (sqrt(n·Σx² − (Σx)²) · sqrt(n·Σy² − (Σy)²))
    * is a fixed four-op IEEE chain — bit-reproducible anywhere. Degenerate
    * (constant-signal) groups null. Long-overflow bound: per group
    * n·Σ|x·y| < 2⁶³. */
  def pearsonExact(df: DataFrame, groupCol: String,
                   xCol: String, yCol: String): DataFrame = {
    val x = col(xCol).cast("long"); val y = col(yCol).cast("long")
    // Pairwise-complete observations: every moment (including n) counts
    // only rows where BOTH signals are present, so nulls in either column
    // can't skew the moments against each other.
    val both = df.filter(x.isNotNull && y.isNotNull)
    val m = both.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
      sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val den = sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
      sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))
    m.select(col(groupCol), col("n"),
      when(den > lit(0.0), num / den).as("corr"))
  }
}
