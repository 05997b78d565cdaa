package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.{col, lit, pmod}

/** Plan-shape guards: the properties that make these queries survive a
  * 100× scale-up, asserted against the actual physical plans so a
  * refactor can't silently regress them. */
class PlansSpec extends SparkSpec {

  private def executed(df: org.apache.spark.sql.DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def planString(df: org.apache.spark.sql.DataFrame): String =
    executed(df).toString

  /** Flatten an executed plan THROUGH AQE's leaf QueryStageExec wrappers
    * (plain TreeNode.collect stops at materialized stage boundaries). */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => p +: nodes(q.plan)
    case a: AdaptiveSparkPlanExec => p +: nodes(a.executedPlan)
    case _ => p +: p.children.flatMap(nodes)
  }

  test("PlanDump counts operator node headers, not names that end in one") {
    val txt =
      """== Physical Plan ==
        |AdaptiveSparkPlan (9)
        |+- SortMergeJoin Inner (8)
        |   :- * Sort (3)
        |   :  +- Exchange (2)
        |   :     +- Scan ExistingRDD (1)
        |   +- BroadcastHashJoin LeftOuter BuildRight (7)
        |      :- ReusedExchange (4)
        |      +- BroadcastExchange (6)
        |         +- LocalTableScan (5)
        |
        |(2) Exchange
        |Input [1]: [id#0L]
        |""".stripMargin
    assert(Seq("Exchange", "BroadcastExchange", "ReusedExchange", "SortMergeJoin", "Sort")
      .map(PlanDump.opCount(txt, _)) == Seq(1, 1, 1, 1, 1))
  }

  test("graph steps' edge frames plan as the hand-written selects they replace") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{greatest, least}
    import graft.pipeline.Pipeline
    val df = Seq((1, 2, 5), (2, 1, 3), (3, 3, 1)).toDF("s", "d", "wt")
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Unit = {
      assert(a.schema == b.schema)
      assert(a.queryExecution.optimizedPlan.sameResult(b.queryExecution.optimizedPlan),
        s"${a.queryExecution.optimizedPlan}\nvs\n${b.queryExecution.optimizedPlan}")
    }
    // the scc step (graph_loops' workload): plain directed edges
    val fwd = df.select(col("s").cast("long").as("src"), col("d").cast("long").as("dst"))
    same(Pipeline.directedEdges(df, "s", "d"), fwd)
    same(Pipeline.directedEdges(df, "s", "d", symmetric = true),
      fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst"))))
    val wfwd = df.select(col("s").cast("long").as("src"), col("d").cast("long").as("dst"),
      col("wt").cast("long").as("w"))
    same(Pipeline.directedEdges(df, "s", "d", "wt", symmetric = true),
      wfwd.unionByName(wfwd.select(col("dst").as("src"), col("src").as("dst"), col("w"))))
    same(Pipeline.undirectedEdges(df, "s", "d"),
      df.select(least(col("s").cast("long"), col("d").cast("long")).as("a"),
          greatest(col("s").cast("long"), col("d").cast("long")).as("b"))
        .filter(col("a") < col("b")).distinct())
    // the comparison tells plans apart: an uncast frame is not the same
    assert(!Pipeline.directedEdges(df, "s", "d").queryExecution.optimizedPlan.sameResult(
      df.select(col("s").as("src"), col("d").as("dst")).queryExecution.optimizedPlan))
  }

  test("q_filter_project: filters push to the scan, schema is pruned") {
    val df = queries.Relational.qFilterProject(spark, sf)
    val leaf = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf.contains("PushedFilters") && leaf.contains("GreaterThan(l_quantity"))
    // pruned read schema: only the needed columns, never the full table
    assert(!leaf.contains("l_shipdate") && !leaf.contains("l_tax"))
  }

  test("q1: aggregation is two-phase (partial + final) with one shuffle") {
    val s = planString(queries.Relational.q1PricingSummary(spark, sf))
    assert("HashAggregate".r.findAllIn(s).size >= 2, s"expected partial+final HashAggregate, got:\n$s")
    assert(s.contains("partial_sum"), "map-side partial aggregation missing")
  }

  test("q5: small dims broadcast, no cartesian products") {
    val s = planString(queries.Relational.q5LocalSupplier(spark, sf))
    assert(s.contains("BroadcastHashJoin"))
    assert(!s.contains("CartesianProduct"))
  }

  test("q_sort_limit plans as TakeOrdered (per-partition heap, no global sort)") {
    val s = planString(queries.Relational.qSortLimit(spark, sf))
    assert(s.contains("TakeOrderedAndProject"))
  }

  test("ann brute top-k: corpus side never shuffles before scoring") {
    val df = queries.DataOps.qAnnTopk(spark, sf)
    val plan = executed(df)
    // one shuffle for the k-sized heap buffers, nothing repartitioning the corpus scan
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 1, s"expected at most the top-k merge shuffle, got ${shuffles.size}")
    assert(planString(df).contains("BroadcastNestedLoopJoin") ||
      planString(df).contains("BroadcastHashJoin"))
  }

  test("cluster sample and host cap: bounded heaps + broadcast dims, no windows") {
    // cluster-balanced sample: centroid side broadcasts (never shuffles
    // the corpus against it), quota selection is the two-phase min-k heap,
    // and no window touches the corpus
    val cs = planString(queries.DataOps.qClusterSample(spark, sf))
    assert(cs.contains("BroadcastHashJoin") || cs.contains("BroadcastNestedLoopJoin"),
      "centroids must broadcast")
    assert(cs.contains("graft_min_k"), "bounded min-k quota aggregate missing")
    assert(cs.contains("partial_graft_min_k"), "map-side partial min-k missing")
    assert(!cs.contains("Window"), "corpus window in cluster sample — scale-killer")
    // per-host cap: same discipline
    val ch = planString(queries.DataOps.qCapPerHost(spark, sf))
    assert(ch.contains("graft_min_k"), "bounded min-k cap aggregate missing")
    assert(!ch.contains("Window"), "per-host window is back — scale-killer")
    assert(!ch.contains("CartesianProduct"))
    // incremental bm25 probe keeps the bounded-heap ranking
    val bi = planString(queries.RetrievalQ.qBm25Inc(spark, sf))
    assert(bi.contains("graft_top_k") && !bi.contains("Window"))
  }

  test("ann ranking is the two-phase bounded-heap aggregate, not a window") {
    // the pre-trim stage must exist (partial top-k before the shuffle) and
    // the full-corpus per-query window must NOT be back
    Seq(queries.DataOps.qAnnTopk(spark, sf), queries.DataOps.qAnnIvf(spark, sf),
        queries.DataOps.qAnnIvfFixed(spark, sf)).foreach { df =>
      val s = planString(df)
      assert(s.contains("graft_top_k"), s"bounded top-k aggregate missing:\n$s")
      assert(s.contains("partial_graft_top_k"),
        "map-side partial top-k (pre-trim) stage missing")
    }
    // the fixed-plane LSH gate keeps the banding contract: keyed bucket
    // groupBy + capped members — never a cartesian over the corpus
    assert(!planString(queries.DataOps.qEmbNeardupLshFixed(spark, sf))
      .contains("CartesianProduct"))
    // brute path has no window at all; IVF keeps only the tiny nprobe
    // window on the QUERY side (a handful of rows), never on the corpus
    assert(!planString(queries.DataOps.qAnnTopk(spark, sf)).contains("row_number"),
      "per-query row_number window is back — scale-killer")
  }

  test("substring removal: occurrence ranking is a min-struct aggregate, not a gram window") {
    // a row_number window over the gram stream would sort-shuffle EVERY
    // gram occurrence into per-gram tasks; the keeper must come from a
    // partial-aggregating min(struct) groupBy instead
    val s = planString(queries.DataOps.qSubstringDedup(spark, sf))
    assert(!s.contains("Window"), s"gram-stream window crept in:\n$s")
    assert(!s.contains("CartesianProduct"))
    assert("partial_min".r.findAllIn(s).nonEmpty || s.contains("partial_"),
      "keeper aggregate must partial-aggregate map-side")
  }

  test("stable ranks: range exchange + local sorts only — no window, no global sort") {
    val s = planString(queries.DataOps.qStableIds(spark, sf))
    assert(!s.contains("Window"), s"single-task window funnel crept in:\n$s")
    assert(s.toLowerCase.contains("rangepartitioning"),
      "ordering must come from a range exchange")
    // every Sort in the plan must be partition-local (global sorts print
    // as Sort [...], true)
    assert(!s.contains("], true, "), s"global sort crept in:\n$s")
  }

  test("winnowing: selection is map-only — no exchange, no window, no aggregate") {
    // winnowing is per-document; shuffling one row per token into a
    // per-window min groupBy (the exploded formulation) would make the
    // selection itself a corpus-wide exchange. The native deque pass
    // keeps the whole stage scan→project→generate.
    val s = planString(operators.Dedup.winnowFingerprints(
      Tables(spark, sf).documents, "doc_id", "text"))
    assert(!s.contains("Exchange"), s"fingerprint selection must not shuffle:\n$s")
    assert(!s.contains("Window"), s"gram-stream window crept in:\n$s")
    assert(!s.contains("Aggregate"), s"selection must not aggregate:\n$s")
  }

  test("paragraph dedup / bpe pairs: two-phase keyed aggs, no stream window") {
    // keeper selection and pair counting must partial-aggregate map-side;
    // a window over the exploded paragraph/pair stream would sort-shuffle
    // every occurrence into per-key tasks
    Seq(queries.DataOps.qParagraphDedup(spark, sf),
        queries.DataOps.qBpePairs(spark, sf)).foreach { df =>
      val s = planString(df)
      assert(!s.contains("Window"), s"stream window crept in:\n$s")
      assert(!s.contains("CartesianProduct"))
      assert(s.contains("partial_"), "map-side partial aggregation missing")
    }
  }

  test("heavy hitters: recount is candidate-filtered and two-phase") {
    val df = queries.DataOps.qHeavyHitters(spark, sf)
    val s = planString(df)
    // the recount scan must carry the ≤ k-entry candidate IN-filter so
    // only the heavy sliver reaches the exact groupBy
    assert(s.contains("xxhash64") && (s.contains(" IN ") || s.contains("INSET")),
      s"candidate prefilter missing from the recount scan:\n$s")
    assert(s.contains("partial_count"), "recount must partial-aggregate map-side")
    assert(!s.contains("Window"))
  }

  test("token stats: one FileScan — totals fold into the histogram pass") {
    val s = planString(queries.DataOps.qTokenStats(spark, sf))
    val scans = "FileScan|BatchScan".r.findAllIn(s).size
    assert(scans == 1, s"expected a single documents scan, got $scans:\n$s")
  }

  test("bloom contamination: scan-side might_contain prefilter, exact result") {
    val exact = queries.DataOps.qContamination(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bloomed = queries.DataOps.qContaminationBloom(spark, sf)
    // the bloom probe must sit in the plan (prefilter before the join)...
    val s = planString(bloomed)
    assert(s.contains("might_contain"))
    // ...the bench distinct runs ONCE, inside the verify-join job (the
    // bloom build inserts the raw gram stream — idempotent, shuffle-free
    // — so no cache and no second distinct exist anywhere)...
    // one logical distinct = exactly one partial+final HashAggregate pair
    assert("keys=\\[gram".r.findAllIn(s).size == 2,
      s"expected exactly one distinct-on-gram (partial+final) in the verify join:\n$s")
    assert(!s.contains("InMemoryTableScan"),
      "bloom contamination should not pin a bench cache")
    // ...and the verify join must make the result bit-identical to exact
    assert(bloomed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == exact)
  }

  test("bloom clamp: saturated sketch degrades to pass-through, result stays exact") {
    // Spark silently clamps the sketch to runtime.bloomFilter.maxNumBits
    // (documented at DataOps.contaminationBloom); the contract is the
    // degrade is GRACEFUL: a saturated sketch stops pruning but the verify
    // join keeps the answer exact. Restore the conf whatever happens.
    val key = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val orig = spark.conf.getOption(key)
    val docs = Tables(spark, sf).documents
    val bench = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
    val exact = queries.DataOps.qContamination(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      spark.conf.set(key, "64") // 64 bits for ~2^20 expected grams: saturated
      val clamped = queries.DataOps.qContaminationBloom(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(clamped == exact, "a clamped sketch must stay EXACT (just unpruned)")
      val passSaturated = queries.DataOps
        .bloomPrefilteredGrams(docs, bench, 5, 1L << 20, 0.03).count()
      spark.conf.set(key, (1L << 26).toString) // default size: pruning resumes
      val passSized = queries.DataOps
        .bloomPrefilteredGrams(docs, bench, 5, 1L << 20, 0.03).count()
      val allGrams = queries.DataOps.wordGrams(docs, 5).count()
      assert(passSaturated == allGrams,
        s"64-bit sketch should pass every gram ($passSaturated of $allGrams)")
      assert(passSized * 2 < passSaturated,
        s"sized sketch should prune: $passSized vs saturated $passSaturated")
    } finally {
      orig match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("semdedup: keyed cell join, no cartesian, no corpus window") {
    // the public semDedup materializes DETACHED (a flat cache scan that
    // hides the pipeline) — audit the composed plan over the persisted
    // cell assignment, the gate's exact inputs
    val e = Tables(spark, sf).embeddings
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("c_id"),
        operators.Similarity.asDouble(col("embedding")).as("c_vec"))
    operators.CacheOps.holding { held =>
      val s = planString(
        operators.Similarity.semDedupPlanForAudit(held, e, cents, tau = 0.3))
      // centroid fan-out is a broadcast nested loop over k rows (fine);
      // the PAIR join must be keyed on cell, never all-pairs
      assert(!s.contains("CartesianProduct"), s)
      // assignment is an argmax aggregate, not a per-vector ranking window
      assert(!s.contains("row_number"), s"corpus-side window crept in:\n$s")
      // both pair-join branches read ONE persisted cell assignment — the
      // corpus-scale assign runs once, never per branch
      assert("InMemoryTableScan".r.findAllIn(s).size >= 2,
        s"both pair-join branches must read the cached cell assignment:\n$s")
    }
  }

  test("histogram percentiles: cumulative and total sums share ONE Window operator") {
    // r17: the group total used to ride a second unordered Window spec —
    // a full extra Sort+Window pass over every histogram (and, in the
    // walk operators, over the corpus-sized per-step candidate stream).
    // The total is now an unbounded frame on the SAME ordered spec, which
    // Catalyst plans as one Window operator; this pins that shape.
    val hist = Tables(spark, sf).documents
      .select(col("source"), (col("doc_id") % 7).as("v"))
      .groupBy(col("source"), col("v"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("c"))
    val df = operators.Quantiles.groupPercentilesFromHist(
      hist, Seq("source"), Seq(("p50", 1L, 2L)))
    val wins = nodes(executed(df)).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.size == 1,
      s"expected ONE Window operator (shared sort), got ${wins.size}")
    // and the single operator carries both the running and the unbounded
    // frame (3 window expressions: hi, lo's input, n)
    assert(wins.head.windowExpression.size >= 2,
      s"expected the total folded into the same Window:\n${wins.head}")
  }

  test("public detached results: one flat cache scan, no cached-input reference") {
    // ADVICE r16: the composed-plan audits read private *Plan helpers, so
    // a regression in the PUBLIC wrapper itself (a stray repartition, a
    // lost detach) would escape them. This guard pins the wrapper
    // contract: the result is exactly one cache scan, and the cached plan
    // is a flat RDD scan referencing NO input cache — which is what makes
    // the operators' input releases unable to invalidate the result.
    val e = Tables(spark, sf).embeddings
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("c_id"),
        operators.Similarity.asDouble(col("embedding")).as("c_vec"))
    val docs = Tables(spark, sf).documents
    val qs = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("q_id"), col("text").as("q_text"))
    Seq(
      "semDedup" -> operators.Similarity.semDedup(e, cents, tau = 0.3),
      "knnGraph" -> operators.Similarity.knnGraph(e, cents, k = 5, nprobe = 2,
        maxCell = 100),
      "bm25TopK" -> operators.Retrieval.bm25TopK(docs, qs, k = 3)
    ).foreach { case (nm, df) =>
      try {
        val scans = nodes(executed(df)).collect {
          case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => i
        }
        assert(scans.size == 1,
          s"$nm: expected exactly one cache scan, got ${scans.size}")
        val cached = scans.head.relation.cachedPlan
        assert(!nodes(cached).exists(
          _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]),
          s"$nm: detached result still references an input cache:\n$cached")
        assert(nodes(cached).exists(
          _.isInstanceOf[org.apache.spark.sql.execution.RDDScanExec]),
          s"$nm: expected a flat RDD scan under the cache:\n$cached")
      } finally df.unpersist(blocking = true)
    }
  }

  test("minhash candidates: no cross join anywhere in the plan") {
    val df = operators.Dedup.minhashCandidates(Tables(spark, sf).documents, "doc_id", "text")
    val s = planString(df)
    assert(!s.contains("CartesianProduct"))
  }

  test("round-3 queries: no cartesian products; broadcast where expected") {
    Seq(
      queries.Relational2.q8MarketShare(spark, sf),
      queries.Relational2.q13CustDist(spark, sf),
      queries.Relational2.q15TopSupplier(spark, sf),
      queries.Relational2.q17SmallQty(spark, sf),
      queries.DataOps.qContamination(spark, sf),
      queries.DataOps.qTfidf(spark, sf),
      queries.DataOps.qPackSequences(spark, sf),
      queries.DataOps.qDocFreqScore(spark, sf)).foreach { df =>
      assert(!planString(df).contains("CartesianProduct"))
    }
    // the contamination benchmark gram set broadcasts (corpus side stays put)
    assert(planString(queries.DataOps.qContamination(spark, sf))
      .contains("BroadcastHashJoin"))
    // doc-freq is two-phase agg + join, NOT a window over the skewed term key
    val dfs = planString(queries.DataOps.qDocFreqScore(spark, sf))
    assert(!dfs.contains("Window"))
    // pack-sequences windows are shard-partitioned, never a global window
    val packPlan = queries.DataOps.qPackSequences(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(packPlan.contains("windowspecdefinition(shard"))
  }

  test("knn family: broadcast dims, no cartesian, no window over the corpus") {
    // knn graph: centroids broadcast; candidate join keyed on cell (no
    // cartesian); ranking is the bounded heap (no Window at all).
    // knnGraph materializes DETACHED — audit the composed plan over the
    // gate's exact inputs
    val ge = Tables(spark, sf).embeddings
    val gc = ge.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("c_id"),
        operators.Similarity.asDouble(col("embedding")).as("c_vec"))
    val gp = planString(operators.Similarity.knnGraphPlan(
      ge, gc, k = 5, nprobe = 2, maxCell = 100))
    assert(!gp.contains("CartesianProduct"))
    assert(!gp.contains("Window"))
    assert(gp.contains("BroadcastNestedLoopJoin") || gp.contains("BroadcastHashJoin"),
      "centroid join must broadcast")
    // classify: seeds broadcast twice (scoring + label rejoin), no window
    val cp = planString(queries.DataOps.qKnnClassify(spark, sf))
    assert(!cp.contains("CartesianProduct") && !cp.contains("Window"))
    assert(cp.contains("BroadcastNestedLoopJoin") || cp.contains("BroadcastHashJoin"))
    // mutual filter: plain equi-join on the edge list, no cartesian
    val mp = planString(queries.DataOps.qKnnMutual(spark, sf))
    assert(!mp.contains("CartesianProduct"))
  }

  test("no gate query plans an unpartitioned window (single-task funnel)") {
    // an empty window partitionSpec funnels the whole input through ONE
    // task — the canonical 100 TB scale-killer; every gate plan is checked
    // so one can't sneak in behind a refactor.
    // Operators that MATERIALIZE their result return a cache-scan whose
    // optimizedPlan is an InMemoryRelation LEAF — a logical collect sees
    // nothing inside it. So the audit also walks the PHYSICAL tree and
    // descends into each cached relation's plan (deduped: one cache =
    // one execution), and clears caches between gates so the eager gates
    // this sweep now executes don't pile their results into one JVM.
    // CacheManager mints a fresh InMemoryRelation per reference
    // (withOutput), so the one-cache-one-visit dedup must key on the
    // shared cacheBuilder, not the relation instance; and cached plans
    // are AQE-wrapped with QueryStageExec LEAVES whose subtree lives in
    // q.plan — without that case the walk dead-ends at ResultQueryStage
    // and sees nothing inside any materialized cache.
    def physWindows(name: String, p: SparkPlan,
                    seen: java.util.IdentityHashMap[AnyRef, AnyRef]): Seq[String] =
      p match {
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          if (seen.put(m.relation.cacheBuilder, m.relation.cacheBuilder) == null)
            physWindows(name, m.relation.cachedPlan, seen)
          else Nil
        case a: AdaptiveSparkPlanExec => physWindows(name, a.executedPlan, seen)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          physWindows(name, q.plan, seen)
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty =>
          name +: w.children.flatMap(physWindows(name, _, seen))
        case other =>
          other.children.flatMap(physWindows(name, _, seen)) ++
            other.subqueries.flatMap(physWindows(name, _, seen))
      }
    val results = SparkEntry.queries.toSeq.map { case (name, fn) =>
      val r = name -> scala.util.Try {
        val qe = fn(spark, sf).queryExecution
        val logical = qe.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => name
        }
        logical ++ physWindows(name, qe.executedPlan,
          new java.util.IdentityHashMap[AnyRef, AnyRef]())
      }
      BenchUtil.dropBallast(spark)
      r
    }
    // a gate that fails analysis must name itself rather than abort the
    // whole sweep (which would mask the window audit for every other gate)
    val broken = results.collect { case (name, scala.util.Failure(e)) =>
      s"$name (${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)})"
    }
    assert(broken.isEmpty, s"gates failing analysis: ${broken.mkString("; ")}")
    val offenders = results.flatMap(_._2.getOrElse(Nil)).distinct
    assert(offenders.isEmpty, s"unpartitioned windows in: ${offenders.mkString(", ")}")
  }

  test("no gate re-scans a source table beyond its documented pass budget") {
    // A lazy frame referenced from several plan branches re-executes its
    // whole corpus-scale subtree per reference (Catalyst does not reuse
    // common subtrees across differently-aliased branches) — the defect
    // class that had jaccardJoin scanning the corpus 6×, knnGraph+mutual
    // 12×, and the semdedup index probe 16× before r13's persist pass.
    // Budget: ≤2 live (non-cached) scans of any one table per gate —
    // one data pass plus one derived dim/stats pass. The exceptions below
    // are measured multi-pass algorithms where persisting the would-be
    // shared frame (an exploded token/gram stream, a CDC change series)
    // costs MORE than the extra scan at 100 TB; each lists its current
    // count so any regression upward still fails.
    val allowance: Map[String, Int] = Map(
      "q_ann_ivf_fixed" -> 4, "q_chi2_terms" -> 4, "q_corpus_merge" -> 4,
      "q_dsir_select" -> 4, "q_quality_lr" -> 4,
      // the per-iteration joins read the bucketed edge INDEX from disk by
      // design (the index IS the materialization; caching an edges-sized
      // table is what the index path exists to avoid): one scan per
      // Pregel iteration plus the node-set pass
      "q_pagerank_indexed" -> 6,
      // same contract: one bucketed-index scan per relaxation sweep
      "q_sssp_indexed" -> 6,
      // one bucketed-index scan per LPA sweep + the self-row init scan
      "q_communities_indexed" -> 5,
      "q_sssp_weighted_indexed" -> 6,
      // one bucketed-index scan per hop (4) + the self-row start scan
      "q_random_walks_indexed" -> 5,
      // two bucketed-index scans per iteration (one per half, 3
      // iterations) + the self-row node scan
      "q_hits_indexed" -> 7,
      // gate fixtures derive their query/plane dims from the corpus table
      // itself (tiny filtered projections; production passes a separate
      // small frame), which costs extra pruned scans of the same file
      "q_bm25" -> 3, "q_hybrid_rrf" -> 3, "q_emb_neardup_lsh_fixed" -> 3,
      "q_bm25_inc" -> 3, "q_bm25_indexed" -> 3, "q_boilerplate" -> 3,
      "q_containment" -> 3, "q_corpus_diff" -> 3, "q_correlated_scalar" -> 3,
      "q_dedup_minhash" -> 3, "q_editdist_join" -> 3, "q_knn_classify" -> 3,
      "q_mixture_resample" -> 3, "q_mixture_temperature" -> 3,
      "q_mixture_temperature_q1" -> 3, "q_mixture_temperature_q3" -> 3,
      "q_mixture_temperature_d38" -> 3, "q_mixture_temperature_d58" -> 3,
      "q_mmr_rerank" -> 3, "q_paragraph_dedup" -> 3, "q_robust_stats" -> 3,
      "q_substring_dedup" -> 3, "q_tfidf" -> 3)
    // Descends into each cached relation's plan ONCE (a cache executes
    // once however many times it is referenced): operators that
    // materialize their result would otherwise hide their internal scans
    // behind an InMemoryRelation leaf and blind this audit to exactly the
    // regressions it exists to catch.
    // Same traversal rules as the window audit: dedup caches by their
    // shared cacheBuilder (one cache = one execution however many
    // InMemoryRelation copies reference it) and descend through AQE
    // QueryStageExec leaves, or the walk sees nothing inside any
    // materialized operator's cached plan.
    def liveScans(p: SparkPlan,
                  seen: java.util.IdentityHashMap[AnyRef, AnyRef]): Seq[String] =
      p match {
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          if (seen.put(m.relation.cacheBuilder, m.relation.cacheBuilder) == null)
            liveScans(m.relation.cachedPlan, seen)
          else Nil
        case a: AdaptiveSparkPlanExec => liveScans(a.executedPlan, seen)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          liveScans(q.plan, seen)
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.getName)
        case other =>
          other.children.flatMap(liveScans(_, seen)) ++
            other.subqueries.flatMap(liveScans(_, seen))
      }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val res = scala.util.Try {
        val counts = liveScans(fn(spark, sf).queryExecution.executedPlan,
            new java.util.IdentityHashMap[AnyRef, AnyRef]())
          .groupBy(identity).view.mapValues(_.size)
        counts.filter(_._2 > allowance.getOrElse(name, 2)).toMap
      }
      BenchUtil.dropBallast(spark)
      res match {
        case scala.util.Success(hot) if hot.nonEmpty =>
          Seq(s"$name: ${hot.map { case (t, n) => s"$t x$n" }.mkString(", ")}")
        case scala.util.Failure(e) =>
          Seq(s"$name FAILED ${e.getClass.getSimpleName}")
        case _ => Nil
      }
    }
    assert(offenders.isEmpty,
      s"gates over their table-scan budget:\n${offenders.mkString("\n")}")
  }

  test("cache discipline: no gate leaks unbounded persists; ballast drop empties") {
    // Operators may hand back a persisted frame (pageRank ranks,
    // stableRanks) or own a documented session cache, but a single gate
    // must never strand more than a few persisted datasets — an iteration
    // loop that persists per sweep without releasing would. And the
    // Bench/Verify ballast drop must return the JVM to zero persisted
    // blocks, or a 175-gate sweep times GC pressure instead of plans.
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(true))
    val leaks = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val r = scala.util.Try(fn(spark, sf).count())
      val n = sc.getPersistentRDDs.size
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(true))
      (name, n, r.isSuccess)
    }
    val broken = leaks.collect { case (n, _, false) => n }
    assert(broken.isEmpty, s"gates failing execution: ${broken.mkString(", ")}")
    val heavy = leaks.filter(_._2 > 4)
    assert(heavy.isEmpty,
      s"gates stranding >4 persisted datasets: ${heavy.map(t => s"${t._1}=${t._2}").mkString(", ")}")
    assert(sc.getPersistentRDDs.isEmpty, "ballast drop must empty the block manager")
  }

  test("bucketed tables: co-located join and agg run with zero shuffles") {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sf)
    operators.Bucketing.writeBucketed(
      t.orders.select(col("o_orderkey"), col("o_totalprice")),
      "b_orders", buckets = 8, keys = Seq("o_orderkey"), sortCols = Seq("o_orderkey"))
    operators.Bucketing.writeBucketed(
      t.lineitem.select(col("l_orderkey"), col("l_quantity")),
      "b_lineitem", buckets = 8, keys = Seq("l_orderkey"), sortCols = Seq("l_orderkey"))
    val bo = operators.Bucketing.readBucketed(spark, "b_orders")
    val bl = operators.Bucketing.readBucketed(spark, "b_lineitem")
    // force the join path that would normally shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = bl.join(bo, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey")).agg(sum(col("l_quantity")).as("q"))
      val plan = executed(joined)
      val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.isEmpty,
        s"bucketed join+agg must be exchange-free, found ${shuffles.size}:\n$plan")
      // and it computes the same thing as the unbucketed plan
      val expected = t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey")).agg(sum(col("l_quantity"))).count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("persisted edge index: rank iterations read the graph exchange-free") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val fromIdx = queries.DataOps.qPagerankIndexed(spark, sf)
    val direct = queries.DataOps.qPagerank(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(fromIdx) == rows(direct),
      "layout must change the plan, never the ranks")
    // every iteration joins ranks to the bucketed edge table; the join
    // child holding the edge scan (and no aggregate — that side is the
    // rank lineage) must contain NO exchange: the graph never re-shuffles.
    // The gate result is a materialized cache scan, so audit the COMPOSED
    // loop plan directly (the gate above guarantees the table exists) —
    // and clear the cache first, or the canonical-plan match against the
    // gate's persisted result replaces the whole tree with a cache scan.
    spark.catalog.clearCache()
    val table = queries.GateIndex.gatePrefix(spark, "graft_graph_gate", sf)
    val plan = operators.CacheOps.holding(held =>
      executed(operators.Graph.indexRankPlan(held, spark, table, 5, 1000000L)))
    val joins = nodes(plan).flatMap {
      case j: SortMergeJoinExec => j.children
      case j: ShuffledHashJoinExec => j.children
      case j: BroadcastHashJoinExec => j.children
      case _ => Nil
    }
    val edgeSides = joins.filter { ch =>
      val sub = nodes(ch)
      sub.exists { case f: FileSourceScanExec => f.bucketedScan; case _ => false } &&
        !sub.exists { case _: BaseAggregateExec => true; case _ => false }
    }
    assert(edgeSides.nonEmpty, "expected bucketed edge-scan join sides")
    edgeSides.foreach { ch =>
      val ex = nodes(ch).collect { case s: ShuffleExchangeExec => s }
      assert(ex.isEmpty, s"edge side of a rank join re-shuffles the graph:\n$ch")
    }
    // the SAME table serves the SSSP family (build once, analyze many):
    // every relaxation sweep's join must likewise read the edge side
    // bucket-partitioned with no exchange — only the frontier-sized
    // distance frame moves
    val src = {
      import org.apache.spark.sql.functions._
      Tables(spark, sf).orders
        .agg((min(col("o_custkey")) * 2).cast("long").as("id"))
    }
    val ssspPlan = executed(operators.Graph.indexSsspPlan(spark, table, src, 6))
    val ssspEdgeSides = nodes(ssspPlan).flatMap {
      case j: SortMergeJoinExec => j.children
      case j: ShuffledHashJoinExec => j.children
      case j: BroadcastHashJoinExec => j.children
      case _ => Nil
    }.filter { ch =>
      val sub = nodes(ch)
      sub.exists { case f: FileSourceScanExec => f.bucketedScan; case _ => false } &&
        !sub.exists { case _: BaseAggregateExec => true; case _ => false }
    }
    // nonEmpty, not one-per-sweep: AQE reuses the identical edge-scan
    // broadcast stage across sweeps at gate scale (ReusedExchange leaves
    // hide the scan from later joins) — reuse is itself the no-reshuffle
    // property; the sides that DO show the scan must carry no exchange
    assert(ssspEdgeSides.nonEmpty,
      s"expected bucketed edge-scan sweep-join sides, got 0")
    ssspEdgeSides.foreach { ch =>
      val ex = nodes(ch).collect { case s: ShuffleExchangeExec => s }
      assert(ex.isEmpty, s"edge side of a sweep join re-shuffles the graph:\n$ch")
    }
    // the walk family reads the SAME table (r16): the cutpoint hop joins
    // the walks-sized draw against the bucketed expansion on EXACTLY
    // (src, bkt) — an exact-key lookup, not an out-list range scan — and
    // under the walk session's relaxed co-partitioning (the conf
    // randomWalksFromIndex clones in) HashPartitioning(src) serves the
    // two-key clustering, so the edge side carries no exchange. Broadcast
    // is disabled here so the audited plan is the production SMJ shape,
    // not the spec-scale broadcast degenerate.
    val walkSession = org.apache.spark.sql.graftbridge.Bridge.sessionWithConf(
      spark, Map("spark.sql.requireAllClusterKeysForCoPartition" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1"))
    val idx = operators.Bucketing.readBucketed(walkSession, table)
    val eb = operators.Graph.indexWalkExpansion(idx)
    val draw = {
      import spark.implicits._
      org.apache.spark.sql.graftbridge.Bridge.rebind(
        Seq((2L, 0L, 0L)).toDF("src", "bkt", "x"), walkSession)
    }
    val hopPlan = executed(eb.join(draw, Seq("src", "bkt"))
      .filter(org.apache.spark.sql.functions.col("x") >= org.apache.spark.sql.functions.col("cw_lo") &&
        org.apache.spark.sql.functions.col("x") < org.apache.spark.sql.functions.col("cw_hi")))
    val hopJoins = nodes(hopPlan).collect {
      case j: SortMergeJoinExec => (j.leftKeys.size, j.children)
      case j: ShuffledHashJoinExec => (j.leftKeys.size, j.children)
      case j: BroadcastHashJoinExec => (j.leftKeys.size, j.children)
    }
    assert(hopJoins.nonEmpty, "expected a walk-hop join")
    hopJoins.foreach { case (nKeys, _) =>
      assert(nKeys == 2, s"walk hop must equi-join on exactly (src, bkt), got $nKeys keys")
    }
    val hopEdgeSides = hopJoins.flatMap(_._2).filter { ch =>
      nodes(ch).exists { case f: FileSourceScanExec => f.bucketedScan; case _ => false }
    }
    assert(hopEdgeSides.nonEmpty, "expected the hop's bucketed edge side")
    hopEdgeSides.foreach { ch =>
      val ex = nodes(ch).collect { case s: ShuffleExchangeExec => s }
      assert(ex.isEmpty, s"walk-hop edge side re-shuffles the graph:\n$ch")
    }
  }

  test("persisted IVF index: probe is corpus-exchange-free and bucket-pruned") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val emb = Tables(spark, sf).embeddings
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("c_id"),
        operators.Similarity.asDouble(col("embedding")).as("c_vec"))
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    operators.Similarity.buildIvfIndex(emb, cents, "ivf_idx", buckets = 8)
    try {
      val fromIdx = operators.Similarity.ivfTopKFromIndex(
        spark, "ivf_idx", q, k = 5, cents, nprobe = 2)
      // same ranked answer as the direct (assignment-per-batch) path
      val direct = operators.Similarity.ivfTopKWithCentroids(
        emb, q, k = 5, cents, nprobe = 2)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
          r.getAs[Int]("rnk"))).toSet
      assert(rows(fromIdx) == rows(direct),
        "index probe must return the same top-k as the direct IVF path")
      // corpus side never exchanges: no shuffle subtree contains the
      // bucketed index scan (the only shuffles left carry k-sized top-k
      // buffers and the tiny query window)
      val plan = executed(fromIdx)
      val all = nodes(plan)
      // the only legal exchange above the index scan is the two-phase
      // top-k: its child must be the PARTIAL bounded-heap aggregate, so
      // k-sized buffers travel, never raw index rows
      val offending = all.collect {
        case s: ShuffleExchangeExec if nodes(s).exists {
          case f: FileSourceScanExec => f.bucketedScan
          case _ => false
        } => s
      }.filterNot(_.child match {
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec =>
          a.aggregateExpressions.forall(!_.isDistinct) &&
            a.aggregateExpressions.forall(_.mode ==
              org.apache.spark.sql.catalyst.expressions.aggregate.Partial)
        case _ => false
      })
      assert(offending.isEmpty,
        s"raw index rows must not pass through an exchange:\n$plan")
      // the IN-filter on the probed cells prunes buckets at the scan
      val scans = all.collect {
        case f: FileSourceScanExec if f.bucketedScan => f }
      assert(scans.nonEmpty, s"expected a bucketed index scan:\n$plan")
      val pruned = scans.head.optionalBucketSet
      assert(pruned.isDefined && pruned.get.cardinality() < 8,
        s"probe must prune to the probed cells' buckets, got $pruned")
    } finally spark.sql("DROP TABLE IF EXISTS ivf_idx")
  }

  test("incremental dedup: index side of the anti-join never exchanges") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val docs = Tables(spark, sf).documents
    spark.sql("DROP TABLE IF EXISTS inc_plan_idx")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "inc_plan_idx")
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    operators.Dedup.buildFingerprintIndex(
      docs.filter(pmod(col("doc_id"), lit(3)) === 0), "inc_plan_idx",
      buckets = 4, idCol = "doc_id", key = col("text"))
    // at 100 TB the index is NOT broadcastable — force the sort-merge path
    // the real cluster takes, then require the segment between the bucketed
    // index scan and its join to be exchange-free (the batch side shuffles
    // to the buckets; survivors may shuffle again later — both fine, they
    // are |batch|-sized, never |corpus|)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = operators.Dedup.dedupAgainstIndex(
        docs.filter(pmod(col("doc_id"), lit(3)) =!= 0), "inc_plan_idx",
        idCol = "doc_id", key = col("text"))
      val plan = executed(out)
      def pathToBucketedScan(p: SparkPlan): Option[List[SparkPlan]] = p match {
        case f: FileSourceScanExec if f.bucketedScan => Some(List(p))
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          pathToBucketedScan(q.plan).map(p :: _)
        case a: AdaptiveSparkPlanExec =>
          pathToBucketedScan(a.executedPlan).map(p :: _)
        case _ => p.children.flatMap(pathToBucketedScan(_)).headOption.map(p :: _)
      }
      val path = pathToBucketedScan(plan)
      assert(path.isDefined, s"expected a bucketed index scan in:\n$plan")
      val scanToJoin = path.get.reverse.takeWhile(
        !_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
      assert(!scanToJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
        s"index rows must flow from the bucketed scan into the join without an exchange:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS inc_plan_idx")
    }
  }

  test("semdedup index probe: anchor side joins without exchanging") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val emb = Tables(spark, sf).embeddings
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("c_id"),
        operators.Similarity.asDouble(col("embedding")).as("c_vec"))
    spark.sql("DROP TABLE IF EXISTS sem_plan_idx")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "sem_plan_idx")
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    operators.Similarity.buildSemDedupIndex(
      emb.filter(pmod(col("vec_id"), lit(3)) === 0), cents, "sem_plan_idx",
      buckets = 4)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // audit the COMPOSED probe plan: the public method materializes its
      // result (cache scan), which would hide the anchor join
      spark.catalog.clearCache()
      val out = operators.Similarity.semDedupProbePlan(
        emb.filter(pmod(col("vec_id"), lit(3)) =!= 0), cents, "sem_plan_idx",
        tau = 0.3)
      val plan = executed(out)
      // the anchor table (cell, id, vector) is corpus-sized at 100 TB —
      // it must flow from its bucketed scan into the cross-drop join
      // exchange-free; only |batch|-derived sides may shuffle
      def pathToBucketedScan(p: SparkPlan): Option[List[SparkPlan]] = p match {
        case f: FileSourceScanExec if f.bucketedScan => Some(List(p))
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          pathToBucketedScan(q.plan).map(p :: _)
        case a: AdaptiveSparkPlanExec =>
          pathToBucketedScan(a.executedPlan).map(p :: _)
        case _ => p.children.flatMap(pathToBucketedScan(_)).headOption.map(p :: _)
      }
      val path = pathToBucketedScan(plan)
      assert(path.isDefined, s"expected a bucketed anchor scan in:\n$plan")
      val scanToJoin = path.get.reverse.takeWhile(
        !_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
      assert(!scanToJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
        s"anchor rows must reach the cross-drop join exchange-free:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS sem_plan_idx")
    }
  }

  test("minhash index probe: both index tables join without exchanging") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val docs = Tables(spark, sf).documents
    for (t <- Seq("mh_plan_bands", "mh_plan_sets")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    }
    operators.Dedup.buildMinhashIndex(
      docs.filter(pmod(col("doc_id"), lit(3)) === 0), "mh_plan",
      buckets = 4, idCol = "doc_id", textCol = "text")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = operators.Dedup.minhashPairsAgainstIndex(
        docs.filter(pmod(col("doc_id"), lit(3)) =!= 0), "mh_plan",
        threshold = 0.5, idCol = "doc_id", textCol = "text")
      val plan = executed(out)
      // every bucketed index scan (bands AND sets) must reach its join
      // without an exchange; only |batch|-derived sides shuffle
      def scanPaths(p: SparkPlan, acc: List[SparkPlan]): Seq[List[SparkPlan]] = {
        val here = acc :+ p
        val kids = p match {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case _ => p.children
        }
        val sub = kids.flatMap(scanPaths(_, here))
        p match {
          case f: FileSourceScanExec if f.bucketedScan => sub :+ here
          case _ => sub
        }
      }
      val paths = scanPaths(plan, Nil)
      assert(paths.size >= 2, s"expected bands + sets bucketed scans in:\n$plan")
      paths.foreach { path =>
        val scanToJoin = path.reverse.takeWhile(
          !_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
        assert(!scanToJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
          s"index rows must reach the join exchange-free:\n$plan")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      Seq("mh_plan_bands", "mh_plan_sets").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("full faker registry is SQL-callable") {
    graft.plans.GraftExtensions.register(spark)
    import org.apache.spark.sql.functions._
    spark.range(3).createOrReplaceTempView("fk_t")
    val row = spark.sql(
      """SELECT graft_fake_timezone(id) AS tz, graft_fake_ipv4(id) AS ip,
        |  graft_fake_credit_card(id) AS cc, graft_fake_words(id) AS ws
        |FROM fk_t WHERE id = 1""".stripMargin).head()
    assert(graft.functions.Faker.timezones.contains(row.getString(0)))
    assert(row.getString(1).split("\\.").length == 4)
    assert(row.getString(2).length == 16 && row.getString(2).forall(_.isDigit))
    assert(row.getString(3).split(" ").length == 3)
    // every registry entry resolves
    graft.functions.Faker.registry.keys.foreach { n =>
      spark.sql(s"SELECT graft_$n(id) FROM fk_t LIMIT 1").collect()
    }
  }

  test("vector_sum aggregate matches the exploded per-dim sum") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      ("a", Seq(1.0, 2.0, 3.0)), ("a", Seq(0.5, 0.5, 0.5)),
      ("b", Seq(10.0, 20.0, 30.0)), ("b", Seq(1.0, 1.0, 1.0)),
      ("b", Seq(2.0, 2.0, 2.0))).toDF("g", "v")
    val agg = df.groupBy($"g").agg(graft.plans.Native.vectorSum($"v").as("s"))
      .orderBy("g").collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1))
    assert(agg.toSeq == Seq("a" -> Seq(1.5, 2.5, 3.5), "b" -> Seq(13.0, 23.0, 33.0)))
    // nulls skipped; all-null group -> null; ragged inputs zero-pad
    val mixed = Seq(("a", Some(Seq(1.0, 1.0))), ("a", None), ("a", Some(Seq(2.0))),
      ("z", None)).toDF("g", "v")
    val rows = mixed.groupBy($"g").agg(graft.plans.Native.vectorSum($"v").as("s"))
      .orderBy("g").collect()
    assert(rows(0).getSeq[Double](1) == Seq(3.0, 1.0))
    assert(rows(1).isNullAt(1))
    // usable from SQL through the extension registration
    graft.plans.GraftExtensions.register(spark)
    mixed.createOrReplaceTempView("vs_t")
    val viaSql = spark.sql("SELECT graft_vector_sum(v) AS s FROM vs_t WHERE g = 'a'")
      .head().getSeq[Double](0)
    assert(viaSql == Seq(3.0, 1.0))
  }

  test("vector_moments: hand-computed buffer, merge across partitions, mismatch fails") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // rows (1,2), (3,4): n=2, s=[4,6], Σq² diag=[10,20], Σq₀q₁=2+12=14
    val df = Seq(Seq(1L, 2L), Seq(3L, 4L)).toDF("v")
    def run(d: org.apache.spark.sql.DataFrame): Seq[Long] =
      d.agg(graft.plans.Native.vectorMoments($"v").as("m")).head().getSeq[Long](0)
    assert(run(df) == Seq(2L, 4L, 6L, 10L, 14L, 20L))
    assert(run(df.repartition(3)) == Seq(2L, 4L, 6L, 10L, 14L, 20L),
      "merge path must equal the single-partition update path")
    // null rows skip; all-null evaluates to null
    val withNull = Seq(Some(Seq(1L, 2L)), None, Some(Seq(3L, 4L))).toDF("v")
    assert(run(withNull) == Seq(2L, 4L, 6L, 10L, 14L, 20L))
    assert(Seq(Option.empty[Seq[Long]]).toDF("v")
      .agg(graft.plans.Native.vectorMoments($"v").as("m")).head().isNullAt(0))
    // ragged dims must fail loudly, not zero-pad covariances
    val ragged = Seq(Seq(1L, 2L), Seq(1L, 2L, 3L)).toDF("v").repartition(1)
    val err = intercept[Exception] {
      ragged.agg(graft.plans.Native.vectorMoments($"v").as("m")).head()
    }
    assert(err.getMessage != null)
    // a null COMPONENT must fail loudly too (getLong would read it as 0
    // while still counting the row — silent moment distortion)
    val nullComp = Seq(Seq(Option(1L), Option.empty[Long])).toDF("v")
    intercept[Exception] {
      nullComp.agg(graft.plans.Native.vectorMoments($"v").as("m")).head()
    }
  }

  test("substring removal shuffles hashed gram keys: same output, fewer shuffle bytes") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sf).documents
    def measure(out: => org.apache.spark.sql.DataFrame): (Long, Set[(Long, String, Long)]) = {
      val (rows, l) = graft.pipeline.QueryMetricsListener.during(spark) {
        out.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      }
      (l.snapshot("shuffle_bytes_written"), rows)
    }
    val (hashBytes, hashed) = measure(
      operators.Dedup.removeRepeatedRuns(docs, "doc_id", "text", n = 8))
    // the pre-r10 string-keyed formulation, inlined as the reference: the
    // gram STRING is the groupBy/join key, so ~50-80 bytes per gram shuffle
    val (strBytes, viaStrings) = measure {
      val toks = docs.select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      val grams = toks.select(col("doc_id"), posexplode(
          when(size(col("toks")) >= 8,
            transform(sequence(lit(0), size(col("toks")) - 8),
              i => concat_ws(" ", slice(col("toks"), i + 1, lit(8)))))
            .otherwise(array().cast("array<string>")))
          .as(Seq("pos", "gram")))
      val keepers = grams.groupBy(col("gram"))
        .agg(count(lit(1)).as("c"),
          min(struct(col("doc_id").as("kid"), col("pos").as("kpos"))).as("keep"))
        .filter(col("c") > 1)
      val dups = grams.join(keepers, "gram")
        .filter(!(col("doc_id") === col("keep.kid") && col("pos") === col("keep.kpos")))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_set(col("pos"))).as("dups"))
      toks.join(dups, Seq("doc_id"), "left")
        .select(col("doc_id"), col("toks"),
          coalesce(col("dups"), array().cast("array<int>")).as("dups"))
        .select(col("doc_id"),
          filter(col("toks"), (t, i) =>
            !exists(col("dups"), p => p <= i && i < p + 8)).as("kept"),
          col("toks"))
        .select(col("doc_id"),
          when(col("toks").isNull, lit(null).cast("string"))
            .otherwise(concat_ws(" ", col("kept"))).as("clean_text"),
          when(col("toks").isNull, lit(null).cast("bigint"))
            .otherwise((size(col("toks")) - size(col("kept"))).cast("bigint")).as("n_removed"))
    }
    assert(hashed == viaStrings,
      "hash-keyed substring removal must be bit-identical to the string-keyed formulation")
    assert(hashBytes < strBytes,
      s"hashed gram keys must shuffle fewer bytes: $hashBytes vs $strBytes")
    assert(hashBytes.toDouble / strBytes < 0.8,
      f"expected a material shuffle-width cut, got ${hashBytes.toDouble / strBytes}%.2f")
  }

  test("min-k aggregate: buffer hard-bounded at k; output = k smallest, key-ascending") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.LongType
    val agg = graft.plans.MinKByKey(
      BoundReference(0, LongType, nullable = true),
      BoundReference(1, LongType, nullable = true), 8)
    // 10k updates through one buffer: the degenerate-bucket case a
    // collect-then-slice would materialize in full — here the heap must
    // never exceed k entries at ANY point, not just after a final slice
    val rnd = new scala.util.Random(7)
    var buf = agg.createAggregationBuffer()
    rnd.shuffle((0L until 10000L).toVector).foreach { i =>
      buf = agg.update(buf, InternalRow(i, i * 3))
      assert(buf.size <= 8, s"buffer grew past k: ${buf.size}")
    }
    // merging another full buffer keeps the bound; null keys are skipped
    var buf2 = agg.createAggregationBuffer()
    (20000L until 20100L).foreach(i => buf2 = agg.update(buf2, InternalRow(i, i)))
    buf2 = agg.update(buf2, InternalRow(null, 5L))
    val merged = agg.merge(buf, buf2)
    assert(merged.size <= 8)
    val pairs = agg.eval(merged).asInstanceOf[GenericArrayData].array
      .map(_.asInstanceOf[InternalRow]).map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == (0L until 8L).map(i => (i, i * 3)),
      "eval must yield the k smallest keys ascending with their payloads")
    // serde roundtrip preserves bound and contents
    val rt = agg.deserialize(agg.serialize(merged))
    assert(agg.eval(rt).asInstanceOf[GenericArrayData].array.length == 8)
  }

  test("bottom-k-distinct: buffer ≤ k, duplicates absorbed, output = k smallest distinct") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.LongType
    val agg = graft.plans.BottomKDistinct(
      BoundReference(0, LongType, nullable = true), 8)
    // heavy multiplicity: every value fed 5x — a non-distinct heap would
    // fill its k slots with copies; the sketch must hold k DISTINCT values
    val rnd = new scala.util.Random(11)
    var buf = agg.createAggregationBuffer()
    rnd.shuffle((0L until 2000L).flatMap(i => Seq.fill(5)(i)).toVector).foreach { v =>
      buf = agg.update(buf, InternalRow(v))
      assert(buf.size <= 8, s"buffer grew past k: ${buf.size}")
    }
    var buf2 = agg.createAggregationBuffer()
    (0L until 100L).foreach(i => buf2 = agg.update(buf2, InternalRow(i)))
    buf2 = agg.update(buf2, InternalRow(null))
    val merged = agg.merge(buf, buf2)
    assert(merged.size <= 8)
    assert(agg.eval(merged).asInstanceOf[GenericArrayData]
      .toLongArray().toSeq == (0L until 8L),
      "eval must yield the k smallest distinct values ascending")
    val rt = agg.deserialize(agg.serialize(merged))
    assert(agg.eval(rt).asInstanceOf[GenericArrayData].toLongArray().length == 8)
  }

  test("misra-gries: buffer ≤ k, heavy value survives adversarial order and merges") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.LongType
    val agg = graft.plans.MisraGries(BoundReference(0, LongType, nullable = true), 8)
    // 5000 distinct light values interleaved with one value at 27% of the
    // stream — far above N/(k+1) — in the worst (heavy-last-ish) shuffle
    val rnd = new scala.util.Random(7)
    val stream = rnd.shuffle(
      (0L until 5000L).toVector ++ Vector.fill(1900)(777777L))
    var buf = agg.createAggregationBuffer()
    stream.foreach { v =>
      buf = agg.update(buf, InternalRow(v))
      assert(buf.size <= 8, s"buffer grew past k: ${buf.size}")
    }
    def ids(b: java.util.HashMap[Long, Long]) = {
      val out = scala.collection.mutable.Set.empty[Long]
      b.forEach((x, _) => { out += x; () })
      out
    }
    assert(ids(buf).contains(777777L), "a > N/(k+1) value must survive")
    // merge two full summaries (triggers the subtract-(k+1)th reduction):
    // bound holds, the heavy value still survives, counts never overcount
    var buf2 = agg.createAggregationBuffer()
    rnd.shuffle((5000L until 9000L).toVector ++ Vector.fill(1500)(777777L))
      .foreach(v => buf2 = agg.update(buf2, InternalRow(v)))
    buf2 = agg.update(buf2, InternalRow(null))
    val merged = agg.merge(buf, buf2)
    assert(merged.size <= 8, s"merge broke the bound: ${merged.size}")
    assert(ids(merged).contains(777777L))
    assert(merged.get(777777L) <= 3400L, "misra-gries counts must be lower bounds")
    // eval is id-ascending structs; serde preserves the summary
    val out = agg.eval(merged).asInstanceOf[GenericArrayData].array
      .map(_.asInstanceOf[InternalRow]).map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out.map(_._1) == out.map(_._1).sorted)
    val rt = agg.deserialize(agg.serialize(merged))
    assert(agg.eval(rt).asInstanceOf[GenericArrayData].array.length == out.length)
  }

  test("top-k and int8-quant are SQL-callable") {
    import spark.implicits._
    graft.plans.GraftExtensions.register(spark)
    Seq(("a", 0.9, 1L), ("a", 0.5, 2L), ("a", 0.7, 3L), ("b", 0.1, 9L))
      .toDF("g", "s", "id").createOrReplaceTempView("tk_t")
    val tk = spark.sql(
      "SELECT g, graft_top_k(s, id, 2) AS tk FROM tk_t GROUP BY g ORDER BY g").collect()
    assert(tk(0).getSeq[org.apache.spark.sql.Row](1).map(r => r.getLong(0)) == Seq(1L, 3L))
    assert(tk(1).getSeq[org.apache.spark.sql.Row](1).map(r => r.getLong(0)) == Seq(9L))
    val mk = spark.sql(
      "SELECT g, graft_min_k(id, id * 10, 2) AS mk FROM tk_t GROUP BY g ORDER BY g").collect()
    assert(mk(0).getSeq[org.apache.spark.sql.Row](1).map(r => (r.getLong(0), r.getLong(1)))
      == Seq((1L, 10L), (2L, 20L)))
    assert(mk(1).getSeq[org.apache.spark.sql.Row](1).map(_.getLong(0)) == Seq(9L))
    val qs = spark.sql(
      "SELECT graft_int8_quant(array(1.0D, -0.5D, 0.25D)) AS q").head().getStruct(0)
    assert(qs.getDouble(0) == 1.0 / 127.0)
    assert(qs.getLong(1) == 127L - 64L + 31L)  // 127 + floor(-63.5) + floor(31.75)
    val mg = spark.sql(
      "SELECT graft_misra_gries(id, 2) AS mg FROM tk_t").head()
      .getSeq[org.apache.spark.sql.Row](0)
    assert(mg.nonEmpty && mg.size <= 2 && mg.map(_.getLong(0)) == mg.map(_.getLong(0)).sorted)
  }
}
