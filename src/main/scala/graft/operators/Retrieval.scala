package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-text retrieval over the corpus: BM25 ranking (Robertson &
  * Spärck Jones probabilistic relevance framework, the Okapi BM25
  * formulation) plus reciprocal-rank fusion for hybrid text+vector
  * search. The reference engine stops at exact/fuzzy matching
  * (reference: src/updater/tera.rs string helpers); ranking retrieval is
  * part of the LLM-data-pipeline surface this library adds (finding the
  * training documents most relevant to a probe set, building eval
  * retrieval baselines, hybrid dedup triage).
  *
  * Scale shape (the 100 TB contract):
  * - The corpus term stream is a map-side explode PREFILTERED in the scan
  *   stage by a broadcast semi-join against the (tiny) query-term set —
  *   only occurrences of query terms ever leave the scan.
  * - tf and df are ONE two-phase groupBy each over that pruned stream
  *   (partial map-side; the shuffle carries matched (term, doc) pairs,
  *   never the corpus).
  * - Scoring is a broadcast join (query terms × per-term df × corpus
  *   stats are all driver-small) and the final ranking rides the bounded
  *   [[graft.plans.Native.topKByScore]] heap — k pairs per (query ×
  *   partition), no window over the scored candidates.
  * - The one corpus-sized join in the direct path (doc length onto
  *   matched docs) disappears in the INDEX path: [[buildBm25Index]]
  *   denormalizes dl into the postings rows, so a probe touches nothing
  *   but postings for its own terms.
  *
  * Scoring is oracle-exact by construction (the dsirSelect fixed-IEEE-
  * shape discipline): the classic `ln`-based idf is not bit-portable
  * across engines, so the gate path scores with the RATIONAL idf
  * (N - df + ½)/(df + ½) — the same quantity BM25 takes the log of —
  * and re-enters exact integers via one floor-scale. Every double op is
  * a correctly-rounded IEEE +,-,*,/ with a fixed association order, so
  * Spark and the DuckDB oracle produce identical bits. The
  * paper-faithful log variant is [[bm25LogScores]], spec-pinned to a
  * closed-form fixture.
  */
object Retrieval {

  /** Shared tokenization (lower + whitespace split) — must stay in sync
    * with the oracle's `string_split(trim(lower(text)), ' ')`. */
  private def toks(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** (q_id, term): distinct query terms per query. */
  private def queryTerms(queries: DataFrame, qIdCol: String, qTextCol: String): DataFrame =
    queries.select(col(qIdCol), explode(array_distinct(toks(col(qTextCol)))).as("term"))

  /** Integer BM25 term score — the fixed-shape IEEE chain both engines
    * compute bit-identically. Inputs are integer columns (tf, df, dl,
    * nd, tt); k1/b/scale are exact-in-binary literals by default. */
  private def termScore(k1: Double, b: Double, scale: Double): Column = {
    val idf = (col("nd").cast("double") - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val avgdl = col("tt").cast("double") / col("nd").cast("double")
    val num = col("tf").cast("double") * lit(k1 + 1.0)
    val den = col("tf").cast("double") +
      lit(k1) * (lit(1.0 - b) + (lit(b) * col("dl").cast("double")) / avgdl)
    floor(lit(scale) * idf * num / den).cast("long")
  }

  /** Two-phase bounded ranking of a (qIdCol, idCol, score) frame: the
    * heap trims to k per (query × partition) before its one shuffle.
    * Returns (qIdCol, idCol, score, rnk), rank 1 = best. */
  private def rankTopK(perDoc: DataFrame, k: Int, qIdCol: String,
                       idCol: String, scoreCol: String): DataFrame = {
    val idType = perDoc.schema(idCol).dataType
    val scoreType = perDoc.schema(scoreCol).dataType
    perDoc.groupBy(col(qIdCol))
      .agg(graft.plans.Native.topKByScore(
        col(scoreCol).cast("double"), col(idCol).cast("long"), k).as("__tk"))
      .select(col(qIdCol), posexplode(col("__tk")).as(Seq("__pos", "__e")))
      .select(col(qIdCol), col("__e.id").cast(idType).as(idCol),
        col("__e.cos").cast(scoreType).as(scoreCol),
        (col("__pos") + 1).cast("bigint").as("rnk"))
  }

  /** BM25 top-k per query, direct path (tokenizes the corpus in place).
    * `queries` is (qIdCol, qTextCol). Returns (qIdCol, idCol, score,
    * rnk) — score is the floor-scaled integer BM25 sum, rank 1 = best,
    * ties broken by ascending id (row_number parity).
    *
    * Defaults k1=1.25, b=0.75, scale=2^20 are all exact in binary —
    * keep them so if you need cross-engine bit-equality. */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
               idCol: String = "doc_id", textCol: String = "text",
               qIdCol: String = "q_id", qTextCol: String = "q_text",
               k1: Double = 1.25, b: Double = 0.75,
               scale: Double = 1048576.0): DataFrame = CacheOps.holding { h =>
    // the tokenized corpus feeds the length stats, the scoring join's
    // length side, AND the postings explode: left lazy, the corpus
    // scan+tokenize executes three times per run. Persist it, materialize
    // the (k per query)-sized result, release — the index path
    // ([[buildBm25Index]]) remains the build-once answer at 100 TB; this
    // keeps the direct path one-pass too.
    val t = h.persist(docs.select(col(idCol), toks(col(textCol)).as("__t")))
    // DETACHED: the t release on return would otherwise recache
    // (invalidate) the result and re-run the tokenize on first read
    h.detached(bm25PlanOn(t, queries, k, idCol, qIdCol, qTextCol, k1, b, scale))
  }

  /** The COMPOSED direct-BM25 plan over a (persisted) tokenized corpus —
    * the public [[bm25TopK]] materializes it DETACHED (a flat cache
    * scan), so plan-shape audits read this composed tree instead. */
  private[graft] def bm25PlanOn(t: DataFrame, queries: DataFrame, k: Int,
                                idCol: String, qIdCol: String,
                                qTextCol: String, k1: Double, b: Double,
                                scale: Double): DataFrame = {
    val lens = t.select(col(idCol), size(col("__t")).cast("bigint").as("dl"))
    val stats = lens.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tt"))
    val qt = queryTerms(queries, qIdCol, qTextCol)
    val termSet = qt.select(col("term")).distinct()
    // scan-stage prefilter: only query-term occurrences survive the explode
    val stream = t.select(col(idCol), explode(col("__t")).as("term"))
      .join(broadcast(termSet), "term")
    val tf = stream.groupBy(col("term"), col(idCol)).agg(count(lit(1)).as("tf"))
    // tf has one row per (term, doc) ⇒ count(*) per term IS the doc frequency
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(qt), "term")
      .join(broadcast(dfT), "term")
      .join(lens, idCol)
      .crossJoin(broadcast(stats))
      .select(col(qIdCol), col(idCol), termScore(k1, b, scale).as("__ts"))
    val perDoc = scored.groupBy(col(qIdCol), col(idCol))
      .agg(sum(col("__ts")).as("score"))
    rankTopK(perDoc, k, qIdCol, idCol, "score")
  }

  /** [[bm25PlanOn]] over a lazily-tokenized corpus (no persist): the
    * audit entry point matching [[bm25TopK]]'s defaults. */
  private[graft] def bm25Plan(docs: DataFrame, queries: DataFrame, k: Int,
                              idCol: String = "doc_id",
                              textCol: String = "text",
                              qIdCol: String = "q_id",
                              qTextCol: String = "q_text",
                              k1: Double = 1.25, b: Double = 0.75,
                              scale: Double = 1048576.0): DataFrame =
    bm25PlanOn(docs.select(col(idCol), toks(col(textCol)).as("__t")),
      queries, k, idCol, qIdCol, qTextCol, k1, b, scale)

  /** Paper-faithful BM25 (natural-log idf, double scores) — NOT
    * bit-portable across engines (ln differs in the last ulp); use for
    * real ranking, gate with [[bm25TopK]]'s integer path. idf uses the
    * +1 lower bound (Lucene's shape) so scores stay positive. */
  def bm25LogScores(docs: DataFrame, queries: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    qIdCol: String = "q_id", qTextCol: String = "q_text",
                    k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    val t = docs.select(col(idCol), toks(col(textCol)).as("__t"))
    val lens = t.select(col(idCol), size(col("__t")).cast("bigint").as("dl"))
    val stats = lens.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tt"))
    val qt = queryTerms(queries, qIdCol, qTextCol)
    val termSet = qt.select(col("term")).distinct()
    val stream = t.select(col(idCol), explode(col("__t")).as("term"))
      .join(broadcast(termSet), "term")
    val tf = stream.groupBy(col("term"), col(idCol)).agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (col("nd").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val avgdl = col("tt").cast("double") / col("nd").cast("double")
    val num = col("tf").cast("double") * lit(k1 + 1.0)
    val den = col("tf").cast("double") +
      lit(k1) * (lit(1.0 - b) + (lit(b) * col("dl").cast("double")) / avgdl)
    tf.join(broadcast(qt), "term")
      .join(broadcast(dfT), "term")
      .join(lens, idCol)
      .crossJoin(broadcast(stats))
      .select(col(qIdCol), col(idCol), (idf * num / den).as("__ts"))
      .groupBy(col(qIdCol), col(idCol))
      .agg(sum(col("__ts")).as("score"))
  }

  // ---- persisted postings index -------------------------------------------

  /** Persist a BM25 postings index (the inverted-index discipline every
    * search engine runs — build once, probe per query batch):
    * `<prefix>_postings` is (term, id, tf, dl) BUCKETED on term — dl
    * rides denormalized so probes never join the corpus; `<prefix>_terms`
    * is the per-term document frequency; `<prefix>_stats` the one-row
    * (nd, tt). At 100 TB the tokenize + tf passes — the only
    * corpus-sized work in BM25 — run ONCE here; a probe then reads the
    * postings buckets for its own terms and nothing else. */
  def buildBm25Index(docs: DataFrame, tablePrefix: String, buckets: Int,
                     idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val t = docs.select(col(idCol).as("id"), toks(col(textCol)).as("__t"))
    val lens = t.select(col("id"), size(col("__t")).cast("bigint").as("dl"))
    val tf = t.select(col("id"), explode(col("__t")).as("term"))
      .groupBy(col("term"), col("id")).agg(count(lit(1)).as("tf"))
    Bucketing.writeBucketed(tf.join(lens, "id")
        .select(col("term"), col("id"), col("tf"), col("dl")),
      s"${tablePrefix}_postings", buckets, keys = Seq("term"))
    tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${tablePrefix}_terms")
    lens.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tt"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${tablePrefix}_stats")
  }

  /** Append a NEW batch of documents to a [[buildBm25Index]] table set —
    * the daily-batch discipline of the other incremental indexes (exact/
    * minhash/containment/semdedup): the corpus-sized tokenize + tf passes
    * run over the BATCH only, never rescanning the indexed corpus.
    * Postings rows append into the bucketed table (same bucket spec, so
    * probes stay exchange-free); `_terms` and `_stats` accumulate PARTIAL
    * rows (per-batch df / (nd, tt)) that [[bm25FromIndex]] sums at probe
    * time — both tables are vocab-/constant-sized, so the probe-side agg
    * is driver-trivial and a build-once index pays nothing. Batch ids must
    * be new (the exact-dedup incremental index is the upstream guard). */
  def appendBm25Index(docs: DataFrame, tablePrefix: String, buckets: Int,
                      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val t = docs.select(col(idCol).as("id"), toks(col(textCol)).as("__t"))
    val lens = t.select(col("id"), size(col("__t")).cast("bigint").as("dl"))
    val tf = t.select(col("id"), explode(col("__t")).as("term"))
      .groupBy(col("term"), col("id")).agg(count(lit(1)).as("tf"))
    Bucketing.writeBucketed(tf.join(lens, "id")
        .select(col("term"), col("id"), col("tf"), col("dl")),
      s"${tablePrefix}_postings", buckets, keys = Seq("term"),
      mode = org.apache.spark.sql.SaveMode.Append)
    tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .saveAsTable(s"${tablePrefix}_terms")
    lens.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tt"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .saveAsTable(s"${tablePrefix}_stats")
  }

  /** BM25 top-k against a [[buildBm25Index]] table set: zero corpus
    * work — the postings scan prunes to the query-term set via a
    * broadcast join (no exchange on the index side), df and stats are
    * broadcast table reads, and the only shuffle is the narrow
    * per-(query, doc) score sum. Same output as [[bm25TopK]] on the
    * indexed corpus — layout changes the plan, never the answer.
    * df/stats SUM their per-batch partial rows so appended batches
    * ([[appendBm25Index]]) fold in with no index rebuild (a single-build
    * index has one row per key — the sum is the identity). */
  def bm25FromIndex(spark: SparkSession, tablePrefix: String,
                    queries: DataFrame, k: Int,
                    idCol: String = "doc_id",
                    qIdCol: String = "q_id", qTextCol: String = "q_text",
                    k1: Double = 1.25, b: Double = 0.75,
                    scale: Double = 1048576.0): DataFrame = {
    val qt = queryTerms(queries, qIdCol, qTextCol)
    val termSet = qt.select(col("term")).distinct()
    val postings = Bucketing.readBucketed(spark, s"${tablePrefix}_postings")
      .join(broadcast(termSet), "term")
    val dfT = spark.read.table(s"${tablePrefix}_terms")
      .join(broadcast(termSet), "term")
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    val stats = spark.read.table(s"${tablePrefix}_stats")
      .agg(sum(col("nd")).as("nd"), sum(col("tt")).as("tt"))
    val scored = postings
      .join(broadcast(qt), "term")
      .join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats))
      .select(col(qIdCol), col("id").as(idCol), termScore(k1, b, scale).as("__ts"))
    val perDoc = scored.groupBy(col(qIdCol), col(idCol))
      .agg(sum(col("__ts")).as("score"))
    rankTopK(perDoc, k, qIdCol, idCol, "score")
  }

  // ---- hybrid fusion -------------------------------------------------------

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two rankings —
    * the standard hybrid-retrieval combiner (BM25 × embedding ANN):
    * fused(d) = Σ_lists 1/(kRrf + rank_list(d)), absent treated as zero
    * contribution. Inputs are (qIdCol, idCol, rnk) frames (any extra
    * columns ignored); returns (qIdCol, idCol, score, rnk) top-k by
    * fused score, ties by ascending id.
    *
    * Rank lists are top-k-bounded (|queries|·k rows), so the outer join
    * is small by construction; each contribution is ONE IEEE division
    * and the sum has a fixed two-term shape — bit-portable, so the gate
    * oracle replicates the fusion exactly. */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, kRrf: Int = 60,
              qIdCol: String = "q_id", idCol: String = "doc_id"): DataFrame = {
    val left = a.select(col(qIdCol), col(idCol), col("rnk").cast("bigint").as("__ra"))
    val right = b.select(col(qIdCol), col(idCol), col("rnk").cast("bigint").as("__rb"))
    val fused = left.join(right, Seq(qIdCol, idCol), "full_outer")
      .select(col(qIdCol), col(idCol),
        (coalesce(lit(1.0) / (lit(kRrf.toDouble) + col("__ra").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf.toDouble) + col("__rb").cast("double")), lit(0.0)))
          .as("score"))
    rankTopK(fused, k, qIdCol, idCol, "score")
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein, SIGIR
    * '98): greedily pick argmax λ·relevance − (1−λ)·max-cosine-to-already-
    * selected — the context-diversification pass a RAG pipeline runs after
    * top-k retrieval so near-duplicate passages don't crowd the prompt.
    *
    * Scale shape: the per-query candidate list is ALREADY top-N-bounded by
    * the upstream retriever, so the greedy O(k·N) quadratic runs inside a
    * flatMapGroups over that bounded state — the sessionize/funnel
    * discipline, nothing corpus-sized ever gathers. Deterministic: input
    * order fixed (score DESC, id ASC), objective ties resolve to the
    * smaller doc id, all arithmetic fixed-shape IEEE. Spec-gated (greedy
    * selection over cosines is not SQL-expressible; the input rankings it
    * consumes are the oracle-checked retrieval gates). */
  def mmrRerank(cands: DataFrame, k: Int, lambda: Double = 0.7,
                qIdCol: String = "q_id", idCol: String = "doc_id",
                scoreCol: String = "score", vecCol: String = "vec"): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    cands.select(col(qIdCol).cast("long"), col(idCol).cast("long"),
        col(scoreCol).cast("double"), col(vecCol).cast("array<float>"))
      .as[(Long, Long, Double, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (q, it) =>
        val arr = it.toArray.sortBy(t => (-t._3, t._2))
        def cos(a: Array[Float], b: Array[Float]): Double = {
          var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          val n = math.min(a.length, b.length)
          while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
          if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
        }
        val selected = scala.collection.mutable.ArrayBuffer[Int]()
        while (selected.size < math.min(k, arr.length)) {
          var best = -1; var bestObj = Double.NegativeInfinity
          var i = 0
          while (i < arr.length) {
            if (!selected.contains(i)) {
              var ms = 0.0
              selected.foreach { j => val s = cos(arr(i)._4, arr(j)._4); if (s > ms) ms = s }
              val obj = lambda * arr(i)._3 - (1.0 - lambda) * ms
              if (obj > bestObj ||
                  (obj == bestObj && (best < 0 || arr(i)._2 < arr(best)._2))) {
                best = i; bestObj = obj
              }
            }
            i += 1
          }
          selected += best
        }
        selected.iterator.zipWithIndex.map { case (i, r) =>
          (q, arr(i)._2, (r + 1).toLong, arr(i)._3)
        }
      }
      .toDF(qIdCol, idCol, "rnk", scoreCol)
  }
}
