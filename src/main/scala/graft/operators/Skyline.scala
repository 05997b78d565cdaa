package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 2-D Pareto frontier (skyline) over integral signal columns — the
  * multi-signal curation shape: "keep every document not dominated on
  * BOTH axes" (e.g. token count × lexical diversity: long documents
  * trend repetitive, and the frontier keeps the best diversity
  * available at every length instead of a single weighted-score
  * winner). Börzsönyi et al., "The Skyline Operator", ICDE 2001.
  *
  * Dominance is the standard strict-in-one form: row j dominates row i
  * iff xj ≥ xi ∧ yj ≥ yi ∧ (xj > xi ∨ yj > yi). Equal-(x, y) rows never
  * dominate each other, so ALL members of a frontier point survive.
  *
  * 100 TB shape — the textbook evaluation is a quadratic NOT EXISTS
  * self-join, and the 2-D sort-based algorithm is one corpus-wide
  * running max (a single-task window funnel). Neither touches a
  * cluster. Instead the sort-based form runs two-phase (the shardByMass
  * prefix discipline, flipped to a SUFFIX max):
  *   1. one keyed agg collapses the corpus to its distinct-x groups
  *      (x, max y) — persisted, it is distinct-x-sized;
  *   2. groups bucket by x DIV bucketWidth (truncating division is
  *      monotone, so buckets are contiguous x-ranges); per-bucket max
  *      is a 16-ish-per-width-row collect, the driver takes the suffix
  *      max over HIGHER buckets, and the exact strictly-greater-x
  *      running max completes WITHIN each bucket (balanced x-ranged
  *      partitions, never one task);
  *   3. a group survives iff its max-y beats every strictly-greater-x
  *      group's max-y; survivors (typically O(log n) of the corpus)
  *      broadcast back and an equi-join on (x, y = group max) keeps
  *      every tied frontier row with its full payload.
  * All comparisons are on longs — any engine replays the frontier
  * bit-for-bit. */
object Skyline {

  /** `bucketWidth <= 0` (the default) derives the width from the
    * observed x span so the driver-side bucket-max collect stays ≤ ~4096
    * rows on ANY domain — ADVICE r13: the old fixed default of 64 was
    * tuned for token-count-like x, and a wide-domain x (timestamps,
    * hashes) made the collect proportional to the value range. An
    * EXPLICIT width is honored but the implied bucket count is checked
    * with a loud error instead of a silent driver OOM. The width never
    * changes the answer — it only shapes the evaluation. */
  def paretoFront2(df: DataFrame, xCol: String, yCol: String,
                   bucketWidth: Long = 0L): DataFrame = CacheOps.holding { h =>
    val base = df
      .withColumn("__x", col(xCol).cast("bigint"))
      .withColumn("__y", col(yCol).cast("bigint"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    // distinct-x groups; referenced by the bucket-max agg AND the exact
    // in-bucket pass — persist so the corpus collapse runs once
    val g0 = h.persist(base.groupBy(col("__x")).agg(max(col("__y")).as("__my")))
    // one cheap agg over the persisted distinct-x groups sizes the
    // buckets (and the materializing job the persist needs anyway)
    val ext = g0.agg(min(col("__x")), max(col("__x"))).head()
    val span = if (ext.isNullAt(0)) 0L
      else math.subtractExact(ext.getLong(1), ext.getLong(0))
    val width =
      if (bucketWidth > 0) bucketWidth
      else span / 4096L + 1L
    require(span / width < (1L << 20),
      s"paretoFront2: bucketWidth=$bucketWidth over an x span of $span " +
        s"implies ${span / width + 1} driver-collected bucket maxima — " +
        "widen the buckets (or leave bucketWidth unset to auto-size)")
    paretoFront2Bucketed(h, df, base, g0, width)
  }

  private def paretoFront2Bucketed(h: CacheOps.Scratch, df: DataFrame, base: DataFrame,
                                   g0: DataFrame, bucketWidth: Long): DataFrame = {
    val g = g0.withColumn("__bk", expr(s"__x DIV ${bucketWidth}L"))
    locally {
      val bmax = g.groupBy(col("__bk")).agg(max(col("__my")).as("__bm"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(-_._1)
      // suffix max over strictly-higher buckets ("has" carries the
      // empty-suffix case without a sentinel colliding with real y values)
      var run = 0L
      var has = false
      val sufs = bmax.map { case (b, m) =>
        val row = (b, run, has); if (!has || m > run) { run = m; has = true }; row
      }.toSeq
      val sufDf = broadcast(df.sparkSession.createDataFrame(sufs)
        .toDF("__sb", "__suf", "__has"))
      val w = Window.partitionBy(col("__bk")).orderBy(col("__x").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val front = g.join(sufDf, col("__bk") === col("__sb"))
        .withColumn("__pm", max(col("__my")).over(w))
        .filter((col("__pm").isNull || col("__my") > col("__pm")) &&
          (!col("__has") || col("__my") > col("__suf")))
        .select(col("__x"), col("__my"))
      // frontier-sized by construction — broadcast keeps the corpus side
      // exchange-free; materialize before g0's cache goes away
      h.detached(
        base.join(broadcast(front), Seq("__x"))
          .filter(col("__y") === col("__my"))
          .select(df.columns.map(col): _*))
    }
  }
}
