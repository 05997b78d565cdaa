package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (SURVEY §2.5 #48-50):
  * brute-force cosine top-k as the exact baseline, random-hyperplane LSH
  * bucketing for near-dup pairs, and an IVF-style cluster-pruned path for
  * scale.
  *
  * Vectors stay as array<double> columns; the cosine hot loop is the
  * codegen'd native expression (plans.CosineSim); the HOF `dot`/`norm`
  * helpers remain for composing one-off vector math outside hot paths.
  */
object Similarity {

  /** Cast float vector to double once (all math in f64). */
  def asDouble(v: Column): Column = v.cast("array<double>")

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, x) => s + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** cosine = dot / (|a| * |b|) — native codegen expression (the HOF fold
    * is interpreted per element; this is the ANN inner loop). Accumulation
    * order matches the DuckDB oracle's sequential loops. */
  def cosine(a: Column, b: Column): Column = graft.plans.Native.cosineSim(a, b)

  /** Two-phase per-query ranking of a scored (qId, id, cos) frame: the
    * bounded-heap TopKByScore aggregate trims to k per (query × map
    * partition) BEFORE its one shuffle, so only k-sized buffers move —
    * never the scored corpus. A `row_number` window here would funnel
    * every scored row into |queries| sort tasks: a scale-killer.
    * Ids travel as longs through the heap; integral id columns round-trip
    * via cast. Rank is the explode position over the best-first array. */
  private def rankTopK(scored: DataFrame, k: Int,
                       qIdCol: String, idCol: String): DataFrame = {
    val idType = scored.schema(idCol).dataType
    // ids travel as longs through the heap buffers; a non-integral id
    // would cast to null and be skipped SILENTLY — fail loudly instead
    require(Seq("byte", "short", "int", "bigint").contains(idType.simpleString),
      s"top-k ranking needs an integral id column; $idCol is ${idType.simpleString} " +
        "(hash or zipWithIndex non-numeric ids before ranking)")
    scored.groupBy(col(qIdCol))
      .agg(graft.plans.Native.topKByScore(col("cos"), col(idCol).cast("long"), k).as("__tk"))
      .select(col(qIdCol), posexplode(col("__tk")).as(Seq("__pos", "__e")))
      .select(col(qIdCol), col("__e.id").cast(idType).as(idCol),
        col("__e.cos").as("cos"), (col("__pos") + 1).as("rnk"))
  }

  /** Exact top-k per query: broadcast the (small) query set against the
    * corpus; the corpus is scanned once and ranked two-phase. At 100 TB
    * the corpus side never shuffles — only k pairs per (query ×
    * partition) reach the final merge. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding",
                qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame = {
    val scored = corpus
      .select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .join(broadcast(queries.select(col(qIdCol), asDouble(col(qVecCol)).as("__q"))))
      .select(col(qIdCol), col(idCol), cosine(col("__v"), col("__q")).as("cos"))
    rankTopK(scored, k, qIdCol, idCol)
  }

  /** Random-hyperplane LSH sign bits, packed into a long — native
    * expression (deterministic SplitMix64-derived planes, no stored
    * model; one tight loop per row). */
  def lshBits(v: Column, planes: Int = 16): Column =
    graft.plans.NativeSets.hyperplaneLsh(v, planes)

  /** Near-duplicate pairs via LSH bucketing (approximate; band the sign
    * bits into groups of `bandBits`, verify cosine ≥ threshold in-bucket). */
  def lshNearDupPairs(df: DataFrame, threshold: Double,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      planes: Int = 16, bandBits: Int = 8,
                      maxBucket: Int = 128): DataFrame = {
    val sig = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("sig", lshBits(col("v"), planes))
    bandedCosinePairs(sig, threshold, planes / bandBits, bandBits, maxBucket)
  }

  /** LSH near-dup pairs with CALLER-SUPPLIED hyperplanes (`planesDf` is
    * `(p_id: int 0..nPlanes-1, p_vec: array<double>)`). Same banding /
    * capping / verify machinery as [[lshNearDupPairs]]; the sign bits come
    * from one broadcast cosine pass against the given planes instead of the
    * SplitMix64-derived ones. With data-derived planes (e.g. the first N
    * corpus vectors) every stage is SQL-expressible, which is what lets the
    * q_emb_neardup_lsh_fixed gate equality-check the whole pipeline. */
  /** Random-projection dimensionality reduction (Johnson-Lindenstrauss):
    * project each embedding onto a fixed plane set — proj[j] = dot(v,
    * plane_j), planes ordered by p_id. The planes frame is outDim × dim
    * (cluster-metadata-sized), so it collects to the driver ONCE and
    * ships inside the plan as array literals: the projection is a pure
    * scan-stage codegen'd expression — zero shuffle, zero join, one
    * corpus pass at 100 TB. Scaling (1/√outDim, unit-norm, …) is the
    * caller's policy — raw inner products keep the operator exact and
    * composable (they feed [[bruteTopK]]/[[ivfTopK]] unchanged).
    *
    * planesDf: (p_id int, p_vec array<double>) — e.g. hash-derived ±1
    * planes, or data-derived directions as the gates use. */
  def projectToPlanes(df: DataFrame, planesDf: DataFrame,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      outCol: String = "proj"): DataFrame = {
    val planes = planesDf.select(col("p_id").cast("int"), col("p_vec"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    require(planes.nonEmpty, "projectToPlanes needs at least one plane")
    val v = asDouble(col(vecCol))
    df.withColumn(outCol,
      array(planes.map(p => graft.plans.Native.dotProduct(v, lit(p))): _*))
  }

  def lshNearDupPairsFixedPlanes(df: DataFrame, planesDf: DataFrame,
                                 nPlanes: Int, threshold: Double,
                                 idCol: String = "vec_id", vecCol: String = "embedding",
                                 bandBits: Int = 8, maxBucket: Int = 128): DataFrame = {
    val base = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    // bit j set iff cos(v, plane_j) > 0; 2^p_id is exact in double to 2^52
    val contrib = when(cosine(col("v"), col("p_vec")) > 0,
      pow(lit(2.0), col("p_id")).cast("long")).otherwise(lit(0L))
    val sigs = base.join(broadcast(planesDf))
      .groupBy(col("id")).agg(sum(contrib).as("sig"))
    bandedCosinePairs(base.join(sigs, "id"), threshold,
      nPlanes / bandBits, bandBits, maxBucket)
  }

  /** Shared LSH tail: band a packed signature, cap buckets (skew guard),
    * emit in-bucket pairs, verify exact cosine ≥ threshold.
    *
    * Capping happens on IDS ONLY, via the bounded min-k heap aggregate: a
    * `collect_list(struct(id, v))` here would materialize EVERY member's
    * embedding in one aggregation buffer before any slice truncates — on a
    * degenerate bucket (a band key shared by ~1/3 of the corpus is
    * observed at sf0.01) that is a multi-GB buffer on one executor at
    * 100 TB scale. The heap buffer never exceeds maxBucket 16-byte
    * entries; the surviving members' vectors come back via an equi-join
    * against the signature frame (the SemDeDup anchor pattern,
    * [[semDedup]]), and the rebuild collect below is bounded by
    * construction because its input is pre-capped. */
  private def bandedCosinePairs(sig0: DataFrame, threshold: Double,
                                bands: Int, bandBits: Int,
                                maxBucket: Int): DataFrame = CacheOps.holding { h =>
    val idType = sig0.schema("id").dataType
    // the signature frame feeds the banding explode AND the capped-id
    // vector fetch-back join — and callers hand in (possibly join-shaped)
    // signature plans that would re-execute per reference. Persist here,
    // materialize the pairs-sized result, release.
    val sig = h.persist(sig0)
    val mask = (1L << bandBits) - 1
    val banded = sig.select(col("id"), col("v"),
      posexplode(array((0 until bands).map(bi =>
        shiftrightunsigned(col("sig"), bi * bandBits).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "bucket")))
    val cappedIds =
      if (Seq("byte", "short", "int", "bigint").contains(idType.simpleString))
        banded.groupBy(col("band"), col("bucket"))
          .agg(graft.plans.Native.minKByKey(
            col("id").cast("long"), col("id").cast("long"), maxBucket).as("ks"))
          .filter(size(col("ks")) > 1)
          .select(col("band"), col("bucket"), explode(col("ks")).as("e"))
          .select(col("band"), col("bucket"), col("e.id").cast(idType).as("id"))
      else
        // non-integral ids (config-driven callers): legacy capped collect —
        // same output, but the pre-cap buffer is bounded only by bucket size
        banded.groupBy(col("band"), col("bucket"))
          .agg(slice(sort_array(collect_list(col("id"))), 1, maxBucket).as("ids"))
          .filter(size(col("ids")) > 1)
          .select(col("band"), col("bucket"), explode(col("ids")).as("id"))
    val buckets = cappedIds.join(sig.select(col("id"), col("v")), "id")
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(struct(col("id"), col("v")))).as("ms"))
    // DETACHED: sig is released right after this materializes — an
    // attached entry would be recached (invalidated) and every later
    // read would re-run the banding + fetch-back
    h.detached(
      buckets.select(explode(flatten(transform(col("ms"),
          (a, i) => transform(slice(col("ms"), i + 2, size(col("ms"))),
            b => struct(a.getField("id").as("a"), b.getField("id").as("b"),
              cosine(a.getField("v"), b.getField("v")).as("cos")))))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"), col("p.cos").as("cos"))
        .filter(col("cos") >= threshold)
        .distinct())
  }

  /** Train coarse centroids with Lloyd iterations, all distributed:
    * assignment is a broadcast pass with the native cosine expression;
    * the new centroid mean is one VectorSum aggregate per cell — partial
    * buffers (dim doubles) combine map-side, so each Lloyd iteration
    * shuffles k·partitions buffers, not |corpus|·dim exploded rows;
    * centroids themselves never exceed k·dim doubles. */
  def trainCentroids(corpus: DataFrame, k: Int = 16, iterations: Int = 3,
                     idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = CacheOps.holding { h =>
    // iterative working set: cache the casted vectors once — every Lloyd
    // iteration re-reads them
    val vecs = h.persist(corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v")))
    // seed selection, two deterministic stages:
    // (1) a candidate POOL of 8k vectors in xxhash64(id) order — TakeOrdered
    //     collects exactly 8k rows (a per-partition heap, never a global
    //     sort; id is the tiebreak so reruns pool identically). Hash order
    //     makes the pool a distribution-representative pseudo-random draw;
    //     plain id-order would hand a sorted/clustered corpus prefix (e.g.
    //     near-duplicate docs ingested together) straight to the seeds.
    // (2) a greedy near-duplicate REJECTION walk over the pool on the
    //     driver (≤ 8k vectors, ≤ 8k·k cosines): a candidate is skipped
    //     while it has cosine > 0.95 to an accepted seed, so a pool whose
    //     picks land inside one near-dup family still seeds k DISTINCT
    //     cells (degenerate cells are the case maxCell defends against
    //     downstream; better not to create them). Deliberately NOT
    //     farthest-point: maximal spread over-picks outliers and skews
    //     cell balance; density-following picks cluster like the data.
    //     If rejection exhausts the pool, remaining seeds fill in pool
    //     order (a corpus that IS one near-dup family).
    // The c_id numbering happens on the driver — k rows — so no window,
    // partitioned or otherwise, exists anywhere in training.
    val seedSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("c_id",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("c_vec",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))))
    val pool = vecs.orderBy(xxhash64(col("id")), col("id")).limit(k * 8)
      .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val c = d / (math.sqrt(na) * math.sqrt(nb))
      if (c.isNaN) 1.0 else c // zero vectors: maximally similar → picked last
    }
    val chosenIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
    if (pool.nonEmpty) {
      chosenIdx += 0
      var i = 1
      while (chosenIdx.size < math.min(k, pool.length) && i < pool.length) {
        if (chosenIdx.iterator.map(j => cos(pool(i), pool(j))).max <= 0.95)
          chosenIdx += i
        i += 1
      }
      // pool exhausted below k distinct seeds: fill in pool order
      i = 1
      while (chosenIdx.size < math.min(k, pool.length)) {
        if (!chosenIdx.contains(i)) chosenIdx += i
        i += 1
      }
    }
    val seeds = chosenIdx.toArray.map(pool).zipWithIndex.map { case (v, i) =>
      org.apache.spark.sql.Row(i, v.toSeq)
    }
    var centroids = corpus.sparkSession.createDataFrame(
      corpus.sparkSession.sparkContext.parallelize(seeds.toSeq, 1), seedSchema)
    for (_ <- 0 until iterations) {
      // argmax via max(struct) — partial-aggregates map-side, no window
      // sort-shuffle; ties take the smallest c_id
      val assigned = vecs.join(broadcast(centroids))
        .select(col("id"), struct(cosine(col("v"), col("c_vec")).as("d"),
          (-col("c_id")).as("negc"), col("v").as("vv")).as("s"))
        .groupBy(col("id")).agg(max(col("s")).as("s"))
        .select((-col("s.negc")).as("cell"), col("s.vv").as("v"))
      centroids = assigned
        .groupBy(col("cell"))
        .agg(graft.plans.Native.vectorSum(col("v")).as("s"), count(lit(1)).as("n"))
        .select(col("cell").as("c_id"),
          transform(col("s"), x => x / col("n")).as("c_vec"))
    }
    val result = centroids.collect()  // materialize before releasing the cache
    corpus.sparkSession.createDataFrame(
      corpus.sparkSession.sparkContext.parallelize(result.toSeq, 1),
      centroids.schema)
  }

  /** SemDeDup (Abbas et al., arXiv:2303.09540): semantic deduplication by
    * embedding clustering. Every vector is assigned to its nearest
    * centroid (one broadcast argmax pass — max(struct) partial-aggregates
    * map-side, no window); within each cell, a vector is dropped when an
    * EARLIER vector (smaller id) in the same cell has cosine >= tau to it
    * — the deterministic keep-first policy, no connected components
    * needed. The within-cell pairwise join is the SemDeDup contract: the
    * clustering bounds the quadratic term to cell sizes (at 100 TB you
    * pick k so cells stay joinable — |corpus|²/k pair candidates instead
    * of |corpus|²), and the pair join is a keyed shuffle on `cell`, never
    * a cartesian. The two pair-join branches shuffle the SAME cell
    * assignment on the same key, which Spark's ReuseExchange collapses
    * into one exchange.
    *
    * `centroids` is (c_id: int, c_vec: array<double>) — pass
    * [[trainCentroids]] output for k-means cells, or any deterministic
    * frame (the gate uses the first k embeddings, which a SQL oracle can
    * replicate). Output is float-free: (idCol, cell) of the KEPT rows.
    *
    * `maxCell` is the skew guard (same class as [[Dedup.minhashCandidates]]'
    * maxBucket): only the `maxCell` smallest-id members of a cell act as
    * DROPPERS (anchors); every member stays a drop candidate. When no cell
    * exceeds the cap this is exactly the keep-first policy; beyond it the
    * pair-join candidate count is hard-bounded at |corpus| × maxCell instead
    * of Σ cellSize² — a degenerate centroid set (near-duplicate centroids, a
    * collapsed embedding space) can no longer make one hot cell quadratic. */
  def semDedup(corpus: DataFrame, centroids: DataFrame, tau: Double,
               idCol: String = "vec_id", vecCol: String = "embedding",
               maxCell: Int = 4096): DataFrame = {
    // the assigned-cell frame is referenced four times below (anchor agg,
    // anchor vector fetch, candidate side, final anti-join): left lazy,
    // Catalyst re-executes the corpus-scale assign per reference — at
    // 100 TB that is four corpus scans plus four broadcast-join+argmax
    // passes. Persist, materialize the kept frame DETACHED (the cell
    // release on return would otherwise recache it), release.
    CacheOps.holding(h => h.detached(semDedupPlanOnCells(
      h.persist(cellFrame(corpus, centroids, idCol, vecCol)), tau, maxCell,
      corpus.schema(idCol).dataType, idCol)))
  }

  /** The assigned `(id, v, cell)` frame of `corpus` over `centroids`
    * ([[assignCells]]), the input of every SemDeDup pass. */
  private def cellFrame(corpus: DataFrame, centroids: DataFrame,
                        idCol: String, vecCol: String): DataFrame =
    assignCells(corpus, broadcast(centroids), idCol, vecCol)
      .select(col(idCol).as("id"), col("__v").as("v"), col("cell"))

  /** The COMPOSED keep-first plan over an assigned `(id, v, cell)` frame
    * (callers persist it — every stage here references it); the public
    * passes materialize it DETACHED (a flat cache scan), so plan-shape
    * audits read this composed tree instead. */
  private[graft] def semDedupPlanOnCells(
      cells: DataFrame, tau: Double, maxCell: Int,
      idT: org.apache.spark.sql.types.DataType,
      idCol: String): DataFrame = {
    // anchor ids: capped sorted prefix per cell (ids only, cap inside the
    // bounded min-k heap buffer — ≤ maxCell entries even on a one-cell
    // corpus; the vectors are fetched back by an equi-join so no buffer
    // ever holds a cell's worth of embeddings)
    val anchorIds =
      if (Seq("byte", "short", "int", "bigint").contains(idT.simpleString))
        cells.groupBy(col("cell"))
          .agg(graft.plans.Native.minKByKey(
            col("id").cast("long"), col("id").cast("long"), maxCell).as("ks"))
          .select(explode(col("ks")).as("e"))
          .select(col("e.id").cast(idT).as("a"))
      else // non-integral ids (config-driven callers): legacy capped collect
        cells.groupBy(col("cell"))
          .agg(slice(sort_array(collect_list(col("id"))), 1, maxCell).as("ids"))
          .select(explode(col("ids")).as("a"))
    val anchors = cells.select(col("cell"), col("id").as("a"), col("v").as("va"))
      .join(anchorIds, "a")
    val b = cells.select(col("cell"), col("id").as("b"), col("v").as("vb"))
    val dropped = b.join(anchors, "cell")
      .filter(col("a") < col("b") && cosine(col("va"), col("vb")) >= tau)
      .select(col("b")).distinct()
    cells.join(dropped, cells("id") === dropped("b"), "left_anti")
      .select(col("id").as(idCol), col("cell").cast("bigint").as("cell"))
  }

  /** Persist a SemDeDup anchor index for incremental SEMANTIC dedup (the
    * embedding sibling of Dedup.buildFingerprintIndex / buildMinhashIndex):
    * the corpus's capped per-cell anchor set — (cell, id, vector) for the
    * maxCell smallest-id members of every cell — written as a table
    * bucketed on `cell`. A later batch assigns to the same centroids and
    * joins anchors by cell with no exchange on the index side; the corpus
    * embedding table itself is never rescanned. Anchor capping uses the
    * same bounded min-k heap as [[semDedup]]. */
  def buildSemDedupIndex(corpus: DataFrame, centroids: DataFrame, table: String,
                         buckets: Int, idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         maxCell: Int = 4096): Unit = CacheOps.holding { h =>
    // referenced by the anchor agg AND the vector fetch-back join inside
    // the one build action: persist or the corpus assign runs twice
    val cells = h.persist(cellFrame(corpus, centroids, idCol, vecCol))
    val anchorIds = cells.groupBy(col("cell"))
      .agg(graft.plans.Native.minKByKey(
        col("id").cast("long"), col("id").cast("long"), maxCell).as("ks"))
      .select(explode(col("ks")).as("e"))
      .select(col("e.id").as("aid"))
    Bucketing.writeBucketed(
      cells.join(anchorIds, cells("id").cast("long") === col("aid"))
        .select(col("cell"), col("id"), col("v")),
      table, buckets, keys = Seq("cell"))
  }

  /** The cross-drop probe over an assigned `(id, v, cell)` frame and a
    * [[buildSemDedupIndex]] table: ids of batch rows tau-similar to any
    * indexed anchor in their cell. ONE definition serves the public
    * [[semDedupAgainstIndex]] AND [[semDedupProbePlan]], so the audited
    * plan cannot drift from the shipped one. */
  private def crossDropIds(cells: DataFrame, table: String,
                           tau: Double): DataFrame = {
    val anchors = Bucketing.readBucketed(cells.sparkSession, table)
      .select(col("cell"), col("id").as("a"), col("v").as("va"))
    cells.join(anchors, "cell")
      .filter(cosine(col("va"), col("v")) >= tau)
      .select(col("id")).distinct()
  }

  /** The COMPOSED cross-drop probe plan (batch cells ⋈ bucketed anchors)
    * for plan-shape audits: the public [[semDedupAgainstIndex]]
    * materializes its result, so its plan is just a cache scan that hides
    * the probe. Same builder as the public method, unpersisted cells. */
  private[graft] def semDedupProbePlan(batch: DataFrame, centroids: DataFrame,
                                       table: String, tau: Double,
                                       idCol: String = "vec_id",
                                       vecCol: String = "embedding"): DataFrame =
    crossDropIds(cellFrame(batch, centroids, idCol, vecCol), table, tau)

  /** The COMPOSED whole-pipeline [[semDedup]] plan for plan-shape
    * audits (the public method's detached result is a flat cache scan),
    * its cells persisted through `held` — the PERSISTED cells mirror the
    * production shape (the two pair-join branches read one cached
    * assignment). */
  private[graft] def semDedupPlanForAudit(held: CacheOps.Scratch, corpus: DataFrame,
                                          centroids: DataFrame, tau: Double,
                                          idCol: String = "vec_id",
                                          vecCol: String = "embedding",
                                          maxCell: Int = 4096): DataFrame =
    semDedupPlanOnCells(held.persist(cellFrame(corpus, centroids, idCol, vecCol)),
      tau, maxCell, corpus.schema(idCol).dataType, idCol)

  /** Incremental semantic dedup: drop batch vectors tau-similar to ANY
    * indexed corpus anchor in their assigned cell, then run keep-first
    * [[semDedup]] within the surviving batch. `centroids` must be the
    * frame the index was built with. Returns (idCol, cell) of kept batch
    * rows — the same shape as [[semDedup]]. */
  def semDedupAgainstIndex(batch: DataFrame, centroids: DataFrame, table: String,
                           tau: Double, idCol: String = "vec_id",
                           vecCol: String = "embedding",
                           maxCell: Int = 4096): DataFrame = CacheOps.holding { h =>
    // assign the batch ONCE and persist: the cross-drop, the anti-join,
    // and every stage of the intra-batch keep-first pass reuse the same
    // assignment (it is row-local and deterministic) — re-deriving it per
    // stage would rescan the batch embeddings several more times
    val cells = h.persist(cellFrame(batch, centroids, idCol, vecCol))
    val dropped = crossDropIds(cells, table, tau)
      .select(col("id").as("dropid"))
    val freshCells = h.persist(cells.join(dropped,
      cells("id") === dropped("dropid"), "left_anti"))
    h.detached(semDedupPlanOnCells(freshCells, tau, maxCell,
      batch.schema(idCol).dataType, idCol))
  }

  /** IVF-style ANN with trained coarse centroids: every corpus vector is
    * assigned to its nearest centroid (one broadcast pass), queries probe
    * the `nprobe` nearest cells only. The scan-side win at scale: the
    * candidate set is |corpus| * nprobe / nCentroids instead of |corpus|. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int = 16, nprobe: Int = 4, trainIters: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding",
              qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame =
    ivfTopKWithCentroids(corpus, queries, k,
      trainCentroids(corpus, nCentroids, trainIters, idCol, vecCol),
      nprobe, idCol, vecCol, qIdCol, qVecCol)

  /** IVF search against CALLER-SUPPLIED centroids (`(c_id: int, c_vec:
    * array<double>)`) — [[ivfTopK]] passes Lloyd-trained ones; a fixed
    * deterministic frame (e.g. the first k corpus vectors) makes the whole
    * pruned search SQL-expressible, which is how q_ann_ivf_fixed equality-
    * checks the nprobe<nCentroids path end to end. */
  def ivfTopKWithCentroids(corpus: DataFrame, queries: DataFrame, k: Int,
              centroids: DataFrame, nprobe: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame = {
    val cents = broadcast(centroids)
    probeTopK(assignCells(corpus, cents, idCol, vecCol),
      queries, k, cents, nprobe, idCol, qIdCol, qVecCol)
  }

  /** Cluster-balanced sampling (semantic data mixing): assign every vector
    * to its nearest centroid cell, then keep an exact `perCell` quota per
    * cell ranked by a deterministic salted hash — the embedding-space
    * analogue of per-source sampling, used to de-skew a web corpus toward
    * uniform semantic coverage before training (the cluster-balancing step
    * of SemDeDup-style pipelines). 100 TB shape: the assignment is the
    * same broadcast-join + argmax-aggregate ANN uses (map-side partials,
    * no corpus window — and this lean variant drops the vector from the
    * aggregate buffer, so only (score, cell) pairs shuffle); the quota is
    * the bounded min-k-by-key heap, so only `perCell`-sized buffers per
    * (cell × map partition) reach the one shuffle. The md5-derived rank
    * hash makes the whole pipeline SQL-replicable (full oracle with fixed
    * centroids) and independent of row order and partitioning. */
  def clusterBalancedSample(corpus: DataFrame, centroids: DataFrame, perCell: Int,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val cents = broadcast(centroids)
    val assigned = corpus.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .join(cents)
      .select(col(idCol), struct(cosine(col("__v"), col("c_vec")).as("d"),
        (-col("c_id")).as("negc")).as("s"))
      .groupBy(col(idCol)).agg(max(col("s")).as("s"))
      .select(col(idCol), (-col("s.negc")).as("cell"))
    val h = conv(substring(md5(
      concat(col("cell"), lit("-"), col(idCol)).cast("binary")), 1, 15), 16, 10)
      .cast("long")
    assigned.select(col("cell"), col(idCol).cast("long").as("__id"), h.as("__h"))
      .groupBy(col("cell"))
      .agg(graft.plans.Native.minKByKey(col("__h"), col("__id"), perCell).as("ks"))
      .select(col("cell"),
        explode(transform(col("ks"), e => e.getField("p"))).as(idCol))
  }

  /** Nearest-cell assignment: (idCol, __v, cell). An argmax, not a
    * ranking: max(struct(d, -c_id, v)) partial-aggregates map-side (no
    * window sort-shuffle of |corpus|·k rows); ties pick the smallest
    * c_id, matching a row_number() over (d DESC, c_id ASC) ordering.
    * `cents` must already be broadcast-wrapped. */
  private def assignCells(corpus: DataFrame, cents: DataFrame,
                          idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .join(cents)
      .select(col(idCol), struct(cosine(col("__v"), col("c_vec")).as("d"),
        (-col("c_id")).as("negc"), col("__v").as("v")).as("s"))
      .groupBy(col(idCol)).agg(max(col("s")).as("s"))
      .select(col(idCol), col("s.v").as("__v"), (-col("s.negc")).as("cell"))

  /** Probe `nprobe` nearest cells per query over an assigned corpus
    * (`(idCol, __v, cell)`) and rank top-k. The query side is a handful
    * of rows (window is fine) and broadcasts; the corpus side never
    * exchanges. */
  private def probeTopK(corpusCells: DataFrame, queries: DataFrame, k: Int,
                        cents: DataFrame, nprobe: Int, idCol: String,
                        qIdCol: String, qVecCol: String): DataFrame = {
    val scored = corpusCells.join(broadcast(
        queryCells(queries, cents, nprobe, qIdCol, qVecCol)), "cell")
      .select(col(qIdCol), col(idCol), cosine(col("__v"), col("__q")).as("cos"))
    rankTopK(scored, k, qIdCol, idCol)
  }

  /** The `nprobe` nearest cells per query: (qIdCol, __q, cell). */
  private def queryCells(queries: DataFrame, cents: DataFrame, nprobe: Int,
                         qIdCol: String, qVecCol: String): DataFrame = {
    val qw = Window.partitionBy(col(qIdCol)).orderBy(col("__d").desc, col("c_id"))
    queries.select(col(qIdCol), asDouble(col(qVecCol)).as("__q"))
      .join(cents)
      .withColumn("__d", cosine(col("__q"), col("c_vec")))
      .withColumn("__r", row_number().over(qw))
      .filter(col("__r") <= nprobe)
      .select(col(qIdCol), col("__q"), col("c_id").as("cell"))
  }

  /** Persist an IVF index: the corpus cell assignment written as a table
    * BUCKETED ON `cell` (composes the storage-layout operator with ANN).
    * At 100 TB the assignment pass — the one |corpus|-row shuffle in IVF
    * search — runs ONCE here instead of per query batch, and the bucket
    * layout gives every later probe bucket PRUNING on its cell predicate:
    * a batch probing p of c cells reads ~p/c of the index files. */
  def buildIvfIndex(corpus: DataFrame, centroids: DataFrame, table: String,
                    buckets: Int = 32, idCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit =
    Bucketing.writeBucketed(
      assignCells(corpus, broadcast(centroids), idCol, vecCol)
        .select(col(idCol), col("__v").as(vecCol), col("cell")),
      table, buckets, keys = Seq("cell"))

  /** IVF search over a [[buildIvfIndex]] table: no assignment pass, no
    * corpus-side exchange, and the probed cell set is injected as a
    * literal IN-filter so the bucketed scan prunes to the probed buckets
    * (the cell list is |queries|·nprobe values, collected from the tiny
    * query side — the same rows the probe join broadcasts anyway).
    * Centroids must be the ones the index was built with. */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                       queries: DataFrame, k: Int, centroids: DataFrame,
                       nprobe: Int, idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame = {
    val cents = broadcast(centroids)
    val qc = queryCells(queries, cents, nprobe, qIdCol, qVecCol)
    val probedCells = qc.select(col("cell")).distinct().collect().map(_.getInt(0))
    val idx = Bucketing.readBucketed(spark, table)
      .filter(col("cell").isin(probedCells.toSeq: _*))
      .select(col(idCol), asDouble(col(vecCol)).as("__v"), col("cell"))
    val scored = idx.join(broadcast(qc), "cell")
      .select(col(qIdCol), col(idCol), cosine(col("__v"), col("__q")).as("cos"))
    rankTopK(scored, k, qIdCol, idCol)
  }

  /** Approximate k-NN GRAPH: every corpus vector's k nearest OTHER corpus
    * vectors by cosine — the corpus×corpus sibling of [[ivfTopKWithCentroids]]
    * (whose query side must be small enough to broadcast). The building
    * block of graph-based curation: degree-based density pruning, graph
    * clustering over embeddings, kNN-classification of unlabeled docs from
    * a labeled seed set.
    *
    * Blocking: each vector probes its `nprobe` nearest cells; a candidate
    * pair (i, j) forms when j's ASSIGNED cell (its top-1) is among i's
    * probed cells. Since j lives in exactly one cell and i's probe list is
    * distinct, each ordered pair forms at most once — no dedup pass.
    *
    * 100 TB shape: one broadcast-join + bounded-heap aggregation computes
    * the probe ranking AND the cell assignment together (the assignment IS
    * the probe list's head — no second argmax pass); candidates are a keyed
    * shuffle join on `cell`, never a cartesian, with the candidate count
    * bounded by Σ_cell |probes_cell|·|members_cell| — the IVF contract (pick
    * nCentroids so cells stay joinable) plus the hard `maxCell` skew guard:
    * only the maxCell smallest-id members of a cell act as neighbor
    * CANDIDATES (the [[semDedup]] anchor pattern — a degenerate centroid
    * set can't make one hot cell quadratic); ranking is the same bounded
    * heap as every ANN path (k pairs per (vector × partition), no window
    * over the candidate stream). */
  def knnGraph(corpus: DataFrame, centroids: DataFrame, k: Int, nprobe: Int = 2,
               idCol: String = "vec_id", vecCol: String = "embedding",
               maxCell: Int = 4096): DataFrame = {
    val cents = broadcast(centroids)
    // the probe-ranked frame feeds the member side (twice: cap agg +
    // fetch-back join) AND the probe side — persist or the corpus-scale
    // broadcast-join + heap aggregation executes three times per run.
    // The returned edge list is MATERIALIZED so this cache can be
    // released on return (the LoopSession.handBack discipline); callers doing
    // further passes over the graph (mutual filter, clustering sweeps)
    // then read the k·|corpus| edge cache, never the vectors again.
    // DETACHED: the ranked release on return would otherwise recache
    // (invalidate) the edge list just materialized
    CacheOps.holding(h => h.detached(knnGraphPlanOn(
      h.persist(knnRankedPlan(corpus, cents, nprobe, idCol, vecCol)), k, idCol, maxCell)))
  }

  /** The probe-ranked (id, top-nprobe cells, vector) frame feeding
    * [[knnGraph]] — factored so the audit plan and the production path
    * share one definition. */
  private def knnRankedPlan(corpus: DataFrame, cents: DataFrame, nprobe: Int,
                            idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .join(cents)
      .select(col(idCol), col("__v"),
        cosine(col("__v"), col("c_vec")).as("__d"), col("c_id"))
      .groupBy(col(idCol))
      .agg(graft.plans.Native.topKByScore(col("__d"), col("c_id").cast("long"), nprobe)
             .as("__tk"),
           first(col("__v")).as("__v"))

  /** The COMPOSED edge-list plan over a probe-ranked frame — the public
    * [[knnGraph]] materializes it DETACHED (a flat cache scan), so
    * plan-shape audits read this composed tree instead. */
  private[graft] def knnGraphPlanOn(ranked: DataFrame, k: Int, idCol: String,
                                    maxCell: Int): DataFrame = {
    val members = ranked.select(col(idCol).as("__nid"), col("__v").as("__nv"),
      col("__tk").getItem(0).getField("id").cast("int").as("cell"))
    val memberIds = members.groupBy(col("cell"))
      .agg(graft.plans.Native.minKByKey(
        col("__nid").cast("long"), col("__nid").cast("long"), maxCell).as("ks"))
      .select(explode(col("ks")).as("e"))
      .select(col("e.id").as("__aid"))
    val cappedMembers = members.join(memberIds,
      members("__nid").cast("long") === col("__aid"))
    val probes = ranked.select(col(idCol), col("__v"),
      explode(org.apache.spark.sql.functions.transform(col("__tk"),
        e => e.getField("id").cast("int"))).as("cell"))
    val scored = probes.join(cappedMembers, "cell")
      .filter(col(idCol) =!= col("__nid"))
      .select(col(idCol), col("__nid").as("nbr_id"),
        cosine(col("__nv"), col("__v")).as("cos"))
    rankTopK(scored, k, idCol, "nbr_id")
  }

  /** The full composed [[knnGraph]] plan with a LAZY ranked frame (no
    * persist, no materialization) — audit entry point. */
  private[graft] def knnGraphPlan(corpus: DataFrame, centroids: DataFrame,
                                  k: Int, nprobe: Int = 2,
                                  idCol: String = "vec_id",
                                  vecCol: String = "embedding",
                                  maxCell: Int = 4096): DataFrame =
    knnGraphPlanOn(
      knnRankedPlan(corpus, broadcast(centroids), nprobe, idCol, vecCol),
      k, idCol, maxCell)

  /** k-NN label propagation: classify every corpus vector by majority
    * vote among its k nearest LABELED seed vectors — the semi-supervised
    * bootstrap for quality/domain classifiers (label a few thousand docs,
    * propagate to the corpus; the embedding-space sibling of the DSIR /
    * LR-classifier selection passes).
    *
    * 100 TB shape: the seed set is cluster-metadata-sized and BROADCASTS;
    * the corpus is scanned once, scored against every seed in the map
    * stage, and only k (cos, seed_id) pairs per (vector × partition) reach
    * the ranking shuffle (bounded heap, no window). Seed labels rejoin by
    * another broadcast, and the vote is a map-side-partial count argmax —
    * ties break (votes DESC, label ASC), so the result is deterministic
    * and SQL-replicable. Output: (idCol, pred_label, votes). */
  def knnClassify(corpus: DataFrame, seeds: DataFrame, k: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  seedIdCol: String = "s_id", seedVecCol: String = "s_vec",
                  seedLabelCol: String = "s_label"): DataFrame = {
    val s = seeds.select(col(seedIdCol), asDouble(col(seedVecCol)).as("__sv"),
      col(seedLabelCol))
    val scored = corpus.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .join(broadcast(s.select(col(seedIdCol), col("__sv"))))
      .select(col(idCol), col(seedIdCol), cosine(col("__v"), col("__sv")).as("cos"))
    val nn = rankTopK(scored, k, idCol, seedIdCol)
    nn.join(broadcast(s.select(col(seedIdCol), col(seedLabelCol))), seedIdCol)
      .groupBy(col(idCol), col(seedLabelCol))
      .agg(count(lit(1)).as("__n"))
      .select(col(idCol),
        struct(col("__n"), (-col(seedLabelCol).cast("long")).as("__negl")).as("__s"))
      .groupBy(col(idCol)).agg(max(col("__s")).as("__s"))
      .select(col(idCol), (-col("__s.__negl")).as("pred_label"),
        col("__s.__n").as("votes"))
  }

  /** Mutual-kNN edge filter over a [[knnGraph]] result: keep (i, j) only
    * when j ∈ kNN(i) AND i ∈ kNN(j) — the standard asymmetry cleanup
    * before graph clustering (one-directional edges are usually hub
    * artifacts). A self-equi-join on the k·|corpus|-sized edge list —
    * never touches vectors. Emits each surviving edge once, a < b. */
  def mutualKnn(graph: DataFrame,
                idCol: String = "vec_id", nbrCol: String = "nbr_id"): DataFrame = {
    val fwd = graph.select(col(idCol).as("a"), col(nbrCol).as("b"), col("cos"))
      .filter(col("a") < col("b"))
    val rev = graph.select(col(idCol).as("b2"), col(nbrCol).as("a2"))
      .filter(col("b2") > col("a2"))
    fwd.join(rev, col("a") === col("a2") && col("b") === col("b2"), "left_semi")
  }

  /** Pearson correlation between every pair of embedding DIMENSIONS —
    * the embedding-health diagnostic (dimension collapse / redundant
    * axes show up as |corr| → 1 bands; an isotropic space reads near
    * zero everywhere). Returns (i, j, n, corr) for all i < j.
    *
    * Exactness discipline: components quantize to integers up front
    * (floor(v·quantScale), the exact-cents pattern), all moments are
    * exact long sums, and the only floats are the final sqrt/divide
    * chain — the q_signal_corr recipe, applied D² times. Overflow
    * bound: rows · (rows · q²) < 2⁶³ — for unit-norm embeddings at
    * scale 10³ that is ~10⁷ rows; past that, widen the moment sums to
    * decimal(38,0).
    *
    * Scale shape: ONE distributed pass — the native [[graft.plans
    * .VectorMoments]] aggregate accumulates [n | Σqᵢ | Σqᵢqⱼ] in a
    * single 1+D+D(D+1)/2-long buffer per partition (a tight long[]
    * multiply-add loop, not a D²-amplified interpreted-HOF row stream),
    * so the shuffle carries one ~17 KB buffer per partition and the
    * D(D−1)/2 correlations assemble from the one collected buffer
    * (cluster-metadata-sized — the centroid/histogram collect
    * exception) with the same IEEE sqrt/divide chain both engines run.
    * No explode, no joins, no windows; nothing row-count-sized ever
    * shuffles. */
  def dimCorrelations(d: DataFrame, vecCol: String = "embedding",
                      quantScale: Double = 1000.0): DataFrame = {
    val qs = transform(asDouble(col(vecCol)),
      v => floor(v * lit(quantScale)).cast("long"))
    val row = d.select(qs.as("qs"))
      .agg(graft.plans.Native.vectorMoments(col("qs")).as("m"))
      .head()
    val sp = d.sparkSession
    import sp.implicits._
    if (row.isNullAt(0)) return Seq.empty[(Long, Long, Long, Option[Double])]
      .toDF("i", "j", "n", "corr")
    val m = row.getSeq[Long](0).toArray
    val dim = ((math.sqrt(9.0 + 8.0 * (m.length - 1)) - 3.0) / 2.0).round.toInt
    val n = m(0)
    def s(i: Int): Long = m(1 + i)
    // upper-triangle row-major offset of (i, j), i <= j
    def ss(i: Int, j: Int): Long = m(1 + dim + i * dim - i * (i - 1) / 2 + (j - i))
    val out = for {
      i <- 0 until dim
      j <- (i + 1) until dim
    } yield {
      val den = math.sqrt((n * ss(i, i) - s(i) * s(i)).toDouble) *
        math.sqrt((n * ss(j, j) - s(j) * s(j)).toDouble)
      val corr = if (den > 0.0)
        Some((n * ss(i, j) - s(i) * s(j)).toDouble / den) else None
      (i.toLong, j.toLong, n, corr)
    }
    out.toDF("i", "j", "n", "corr")
  }

  /** Per-dimension centroid drift between two embedding populations —
    * the distribution-shift monitor (did the new crawl / new encoder
    * move the space?). Returns (i, n_a, n_b, mean_a, mean_b, drift)
    * for every dimension; drift = mean_a − mean_b, and a side with ZERO
    * rows reports n = 0 and null means/drift for every dimension
    * (matching the SQL formulation) rather than silently returning an
    * empty frame — an upstream filter mistake stays visible. Both sides
    * empty → empty frame (there is no dimensionality to report).
    *
    * Same machinery as [[dimCorrelations]]: exact-integer quantization,
    * ONE [[graft.plans.VectorMoments]] pass per side (a single buffer
    * per partition — nothing row-count-sized shuffles), and the 64
    * output rows assemble on the driver from two collected buffers with
    * only per-dim single IEEE divisions and one subtraction. */
  def embeddingDrift(a: DataFrame, b: DataFrame, vecCol: String = "embedding",
                     quantScale: Double = 1000.0): DataFrame = {
    val sp = a.sparkSession
    import sp.implicits._
    def moments(d: DataFrame): Option[Array[Long]] = {
      val qs = transform(asDouble(col(vecCol)),
        v => floor(v * lit(quantScale)).cast("long"))
      val r = d.select(qs.as("qs"))
        .agg(graft.plans.Native.vectorMoments(col("qs")).as("m")).head()
      if (r.isNullAt(0)) None else Some(r.getSeq[Long](0).toArray)
    }
    val (oa, ob) = (moments(a), moments(b))
    if (oa.isEmpty && ob.isEmpty)
      return Seq.empty[(Long, Long, Long, Option[Double], Option[Double], Option[Double])]
        .toDF("i", "n_a", "n_b", "mean_a", "mean_b", "drift")
    for (ma <- oa; mb <- ob) require(ma.length == mb.length,
      s"embeddingDrift: dimension mismatch (${ma.length} vs ${mb.length})")
    val len = oa.orElse(ob).get.length
    val dim = ((math.sqrt(9.0 + 8.0 * (len - 1)) - 3.0) / 2.0).round.toInt
    def mean(m: Option[Array[Long]], i: Int): Option[Double] =
      m.map(x => x(1 + i).toDouble / x(0))
    val out = (0 until dim).map { i =>
      val (mA, mB) = (mean(oa, i), mean(ob, i))
      (i.toLong, oa.map(_(0)).getOrElse(0L), ob.map(_(0)).getOrElse(0L),
        mA, mB, for (x <- mA; y <- mB) yield x - y)
    }
    out.toDF("i", "n_a", "n_b", "mean_a", "mean_b", "drift")
  }
}
