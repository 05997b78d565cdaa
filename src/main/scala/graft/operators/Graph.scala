package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Iterative graph propagation (PageRank) in EXACT fixed-point integer
  * arithmetic — authority/centrality scoring over entity graphs (host link
  * graphs for crawl prioritization, customer–supplier interaction graphs).
  *
  * Why integer: float PageRank sums contributions in shuffle order, so no
  * two runs (or engines) agree bit-for-bit. Here ranks are longs at a
  * fixed scale; each step is rank div outdeg → exact long sum → damped
  * integer recombine — every op exact, so the result is REPRODUCIBLE
  * across partitionings, retries, and engines (the same determinism
  * discipline as the dedup family's md5 keys). Precision: div truncation
  * loses < outdeg ulps per node per step at scale 10⁶ — ranking-order
  * noise far below 1 ppm per iteration.
  *
  * Scale shape: the classic Pregel loop — per iteration ONE shuffle
  * keying ranks by src (the edge join) and ONE re-aggregation by dst.
  * Edges are the big side and never change: pre-partition (or bucket) the
  * edge table on src once and the per-iteration exchange moves only the
  * nodes-sized rank frame. Dangling mass is handled by construction here
  * (callers pass symmetric edges) or leaks to teleport as in the original
  * formulation — documented per call site.
  *
  * Loop hygiene (after r12's driver bench measured a 30× cold-plan
  * regression from a lazy node frame): the (id, out-degree) node frame —
  * referenced by EVERY iteration's rank rebuild — is built with ONE
  * shuffle and persisted once (lazy it re-executes an edges-sized pass
  * 1+iterations times), the out-degree rides the node row so the
  * contribution step is a map-side projection instead of a per-iteration
  * join, and the edge persist is hash-partitioned on src so deg and all
  * iteration joins reuse the layout exchange-free. */
object Graph {

  /** `iterations` damped PageRank steps over `edges(src: long, dst: long)`.
    * Returns (id, rank) for every node appearing in the edge list — src OR
    * dst, so sink nodes (incoming edges only) keep their incoming mass; a
    * sink's outgoing mass leaks to teleport as in the original formulation.
    * rank₀ = scale; rankᵢ₊₁ = (15·scale) div 100 + (85 · Σ_{(s→id)} (rankᵢ(s)
    * div outdeg(s))) div 100 — the standard d=0.85 update in longs.
    *
    * The RETURNED frame is persisted (and forced): that lets this method
    * release the edge and node caches before returning instead of leaking
    * an edges-sized cached dataset per invocation — callers ranking many
    * graphs in one session should unpersist the result when done. */
  /** `salts` > 1 splits each source's edges into salt sub-partitions
    * keyed by the DESTINATION hash — the skew lever for power-law hub
    * sources, whose edges the src-keyed layout otherwise pins to ONE
    * task outside AQE's reach (the layout is exchange-free thereafter).
    * The rank row replicates once per salt (nodes·salts rows — still
    * tiny), the per-edge arithmetic is unchanged, and exact integer
    * addition is order-independent, so the salted result is IDENTICAL
    * to the unsalted one (spec-pinned) — layout changes the plan, never
    * the answer. Default 1 = the plain src layout; 0 = AUTO-DETECT from
    * the measured hub share ([[derivedSalts]]). */
  def pageRank(edges: DataFrame, iterations: Int = 5,
               scale: Long = 1000000L, salts: Int = 1): DataFrame =
    rankLoop(edges, weighted = false, None, iterations, scale, salts)

  /** Personalized PageRank: the teleport mass lands ONLY on `seeds(id)`
    * instead of uniformly — random-walk-with-restart proximity to a seed
    * set (crawl frontiers seeded from known-good hosts, "more like these"
    * document expansion over a similarity graph). Same exact integer
    * arithmetic and loop shape as [[pageRank]]: the per-node teleport
    * rides the node frame as a `tp` column ((15·scale) div 100 on seeds,
    * 0 elsewhere) and rank₀ = scale on seeds, 0 elsewhere, so the
    * iterate is a pure long function of (edges, seeds) and any engine
    * replays it bit-for-bit. Seeds absent from the edge list are ignored
    * (they neither hold nor route mass). */
  def pageRankPersonalized(edges: DataFrame, seeds: DataFrame,
                           iterations: Int = 5,
                           scale: Long = 1000000L): DataFrame =
    rankLoop(edges, weighted = false, Some(seeds), iterations, scale, salts = 1)

  /** Weighted PageRank over `edges(src, dst, w)` — interaction STRENGTH
    * (order counts, link multiplicity) steers the walk: each edge carries
    * contrib = (rank·w) div Σw(src), the per-edge integer division making
    * the result exactly reproducible like [[pageRank]]. Overflow bound:
    * rank·w < 2⁶³ (at scale 10⁶, weights up to ~9·10¹² — route heavier
    * multiplicities through a pre-normalized weight). */
  def pageRankWeighted(edges: DataFrame, iterations: Int = 5,
                       scale: Long = 1000000L, salts: Int = 1): DataFrame =
    rankLoop(edges, weighted = true, None, iterations, scale, salts)

  /** The ONE rank path of the three operators above: each routed edge
    * carries contrib = (rank·w) div Σw(src), with w = 1 for the
    * unweighted ones — (rank·1) div Σ1 is rank div outdeg exactly, so
    * their ranks are those of the per-node division. `seeds` personalize
    * the teleport ([[pageRankPersonalized]]). */
  private def rankLoop(edges: DataFrame, weighted: Boolean,
                       seeds: Option[DataFrame], iterations: Int, scale: Long,
                       salts: Int): DataFrame = {
    require(salts >= 0,
      s"pageRank needs salts >= 1 (or 0 = auto-detect), got $salts")
    val base = edges.select(Seq(col("src").cast("long"), col("dst").cast("long")) ++
      (if (weighted) Seq(col("w").cast("long")) else Nil): _*)
    if (salts == 0) return CacheOps.holding { h =>
      val (b0, n) = h.persistCounted(base)
      rankLoop(b0, weighted, seeds, iterations, scale, derivedSalts(b0, n))
    }
    // the edge list feeds deg, the node set, AND every iteration's join —
    // without a persist the (possibly join-shaped) upstream plan would
    // re-execute 2 + iterations times; materialize it once (at cluster
    // scale a bucketed edge table on `src` additionally makes the
    // per-iteration join exchange-free on the edge side)
    // persist HASH-PARTITIONED ON src (+ the dst-hash salt when salted):
    // deg's aggregation and all 5 iterations' edge joins then reuse the
    // layout exchange-free — the in-session analogue of the bucketed
    // index (one up-front shuffle of the edge list buys 1+iterations
    // exchange-free reads). The materializing count also sizes the loop
    // session.
    // Partitioned AND sorted on the per-iteration join keys: the loop
    // session's broadcast-off conf plans every iteration join as a
    // sort-merge join (threshold -1 also vetoes shuffled-hash), and the
    // cached InMemoryTableScan preserves outputPartitioning AND
    // outputOrdering — so the edge side of all `iterations` joins is
    // exchange-free AND sort-free (without the pre-sort each iteration
    // re-sorted the whole edge frame; profiled as the dominant loop cost)
    LoopSession.onEdges(saltEdges(base, salts).repartition(saltKeys(salts): _*)
        .sortWithinPartitions(saltKeys(salts): _*), rowsPerPartition = 100000L) { g =>
      // The fixed-count rank loop runs in the shared right-sized cloned
      // session like kCore/LPA/HITS (r13's A/B left it in the caller
      // session; r14's re-run measured the move a ~35% win — AQE's
      // per-exchange materialize-and-replan was the remaining cost, not
      // the width). rebind, NOT truncate: the logical plan must stay
      // identical so the shared CacheManager serves the src-partitioned
      // persist exchange-free inside the loop. w = 1 is added AFTER the
      // persist, so the unweighted edge cache is not widened.
      val e = Bridge.rebind(g.frame, g.loop)
      val ew = if (weighted) e else e.withColumn("w", lit(1L))
      // node set with Σw embedded (null wsum = sink), ONE shuffle: src
      // rows carry w, dst rows carry null, and sum() skipping nulls makes
      // wsum the out-weight for sources and null for pure sinks — exactly
      // the distinct ∪ groupBy ∪ left-join result, minus two exchanges.
      // Persisted because every iteration's rank rebuild references it —
      // lazy, the final plan re-executes this edges-sized pass 1+iterations
      // times (r12's measured 30× driver-bench regression).
      val nd = ew.select(col("src").as("id"), col("w").as("c"))
        .unionByName(ew.select(col("dst").as("id"), lit(null).cast("long").as("c")))
        .groupBy(col("id")).agg(sum(col("c")).as("wsum"))
      // personalized: a left join marking seeds makes tp and rank₀
      // per-node columns the shared loop carries
      val tp = (15L * scale) / 100L
      val held = g.persist(seeds.fold(nd)(s => nd.join(Bridge.rebind(
          s.select(col("id").cast("long")).distinct().withColumn("__seed", lit(1L)),
          g.loop), Seq("id"), "left")
        .select(col("id"), col("wsum"),
          when(col("__seed").isNotNull, lit(tp)).otherwise(lit(0L)).as("tp"))))
      LoopSession.handBack(g.caller, loopRanks(held, ranks => {
        // per-edge (rank·w) div wsum happens on the routed edge row: carry
        // rank and wsum to the join, divide after multiplying by the edge w
        val r = ranks.filter(col("wsum").isNotNull)
          .select(col("id").as("csrc"), col("rank").as("crank"),
            col("wsum").as("cwsum"))
        saltedEdgeJoin(ew, r, salts)
          .select(col("dst"), expr("(crank * w) div cwsum").as("contrib"))
      }, iterations, scale,
        init = seeds.map(_ => when(col("tp") > 0L, lit(scale)).otherwise(lit(0L)))))
    }
  }

  /** AUTO-SKEW detection for the rank loops (VERDICT r14 #3): measure
    * the hottest source's share of the edge list and derive the `salts`
    * knob from it — a 100×-scale caller shouldn't have to know a hub
    * exists to avoid pinning its edges to one task. `salts = 0` on
    * [[pageRank]]/[[pageRankWeighted]] persists the edge frame ONCE (so a
    * join-shaped upstream doesn't execute twice) as `b0`, of `n` rows;
    * the max source-degree share comes from one keyed aggregation whose
    * driver side is a single row, and the measured salt count is handed
    * to the normal (layout-building) path, which re-reads the probe
    * cache instead of recomputing the upstream plan. Probe cost: one
    * edges-sized cache + one groupBy — paid only in auto mode.
    *
    * The rule `salts = clamp(⌊20·share⌋, 1, 16)` spreads a p-share hub
    * over ~p·20 layout partitions (0.4-share hub → 8 salts, the
    * listener-spec'd spread; share < 10% stays effectively unsalted —
    * AQE-sized tasks absorb it). Derived from data, deterministic, and
    * answer-invariant: salting changes the layout, never a rank. */
  private def derivedSalts(b0: DataFrame, n: Long): Int =
    if (n == 0L) 1
    else {
      val maxDeg = b0.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .agg(max(col("d"))).head().getLong(0)
      math.min(16, math.max(1, (20.0 * maxDeg / n).toInt))
    }

  /** Append the dst-hash salt column for `salts` > 1 (a hub source's
    * edges then spread over `salts` layout partitions). */
  private def saltEdges(e: DataFrame, salts: Int): DataFrame =
    if (salts == 1) e
    else e.withColumn("__salt",
      pmod(xxhash64(col("dst")), lit(salts.toLong)).cast("int"))

  private def saltKeys(salts: Int): Seq[org.apache.spark.sql.Column] =
    if (salts == 1) Seq(col("src")) else Seq(col("src"), col("__salt"))

  /** Join the (possibly salted) edge layout against per-source rank
    * rows: salted, each rank row replicates once per salt value so the
    * two-key join stays exchange-free on the edge side. */
  private def saltedEdgeJoin(e: DataFrame, perSrc: DataFrame,
                             salts: Int): DataFrame =
    if (salts == 1) e.join(perSrc, e("src") === perSrc("csrc"))
    else {
      val rep = perSrc.withColumn("__cs",
        explode(array((0 until salts).map(i => lit(i)): _*)))
      e.join(rep, e("src") === rep("csrc") && e("__salt") === rep("__cs"))
    }

  /** The shared Pregel loop: per iteration `step` maps the (id, deg…,
    * rank) frame through the edge side to (dst, contrib) rows; the node
    * frame enters the same stream as SELF-LOOP rows (null contrib, deg
    * riding along), so ONE aggregation by dst yields both the damped sum
    * and the rebuilt (id, deg, rank) row — no per-iteration join at all
    * (the representatives() hop trick). sum() skips the self row's null,
    * max() skips the edge rows' nulls, and every node appears because its
    * self row does. One shuffle per iteration is the Pregel floor.
    *
    * The plan stays COMPOSED across the fixed iteration count: with the
    * node and edge frames persisted, each level adds only ~5 operators
    * over InMemoryRelation scans (linear, not exponential — rank never
    * composes into itself more than once per level), so one Catalyst pass
    * at the final action beats per-iteration truncation, whose toRdd under
    * AQE eagerly materializes every shuffle stage as its own sequential
    * job (measured 6-8 s of pure stage-submission latency on a 1600-node
    * graph vs <1 s composed). representatives() needs truncation because
    * its sweep count is data-dependent (an action per sweep) and its label
    * frame self-composes 3× per sweep; a fixed-iteration rank loop has
    * neither problem. */
  private def loopRanks(nd: DataFrame, step: DataFrame => DataFrame,
                        iterations: Int, scale: Long,
                        init: Option[Column] = None): DataFrame = {
    val teleport = (15L * scale) / 100L
    val carry = nd.columns.filter(_ != "id").toSeq // "deg" | "wsum" | "tp"…
    // a "tp" carry column personalizes the teleport (mass concentrated on
    // seed nodes — [[pageRankPersonalized]]); absent, every node gets the
    // uniform (15·scale) div 100
    val tpTerm: Column =
      if (carry.contains("tp")) col("tp") else lit(teleport)
    val selfRows = nd.select(col("id").as("dst") +:
      lit(null).cast("long").as("contrib") +: carry.map(col): _*)
    // Exchange count, not exchange width, dominates the loop's wall time
    // under AQE (each exchange is a sequentially-materialized stage):
    // measured on the 16k-node gate graph, an explicit width-sizing
    // repartition before the agg COST 1.9 s (+1 stage × 5 iterations)
    // against the few hundred ms its narrower shuffles saved, and a
    // pre-loop count() job is likewise pure overhead when the final
    // action materializes everything anyway. So: no width tuning, no
    // upfront forcing — AQE's runtime coalescing right-sizes the agg
    // exchanges from actual shuffle stats at any scale.
    var ranks = nd.withColumn("rank", init.getOrElse(lit(scale)))
    for (_ <- 0 until iterations) {
      val routed = step(ranks).select(col("dst") +: col("contrib") +:
        carry.map(c => lit(null).cast("long").as(c)): _*)
      ranks = routed.unionByName(selfRows)
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("acc"),
          carry.map(c => max(col(c)).as(c)): _*)
        .select(col("dst").as("id") +: carry.map(col) :+
          (tpTerm + expr("(85 * coalesce(acc, 0L)) div 100")).as("rank"): _*)
    }
    ranks.select(col("id"), col("rank"))
  }

  /** Persist a graph as ONE bucketed index table serving every analysis
    * family — build once, analyze many (the graph analogue of the
    * BM25/IVF persisted-index family): each sweep's edges⋈state join
    * reads the corpus-sized edge side bucket-partitioned
    * (exchange-free), so only the nodes-sized state frame moves per
    * sweep, and a nightly re-analysis never re-shuffles the graph.
    *
    * Schema, bucketed on `src`:
    *  - REAL edges (`self = false`): (src, dst, w, deg, wsum) — w the
    *    edge weight (1 when the input has no `w` column; checked
    *    non-negative at build time, the SSSP contract), deg/wsum the
    *    source's out-degree and total out-weight embedded per row so no
    *    consumer ever pays a degree join — plus the WALK columns
    *    (r16): cw_lo/cw_hi the source's dst-ordered weight prefix sums
    *    (each out-edge's draw interval of [0, wsum)), cut the source's
    *    cutpoint bucket width ⌈wsum/deg⌉, and wsum_dst/cut_dst the
    *    DESTINATION's draw modulus and bucket width (null for sinks) so
    *    a walk state carries its next node's draw parameters map-side;
    *  - one SELF row per node (`self = true`, src = dst = id, w = 0):
    *    carries the node universe (deg/wsum null for pure sinks) in the
    *    SAME src-keyed layout — consumers read their nodes-sized init
    *    frame as a filtered bucket scan instead of an explode+distinct
    *    shuffle, and SSSP's zero-weight self-loop rows are
    *    pre-materialized.
    * Consumers: [[pageRankFromIndex]] (ranks — ignores w),
    * [[shortestPathsFromIndex]] (distances — the whole table IS its
    * self-looped edge frame), [[randomWalksFromIndex]] (walk corpora —
    * reads the walk columns), and, over a SYMMETRIZED build, any
    * src-keyed neighborhood pass (LPA adjacency, [[hitsFromIndex]]). */
  def buildGraphIndex(edges: DataFrame, table: String, buckets: Int): Unit = {
    val weighted =
      if (edges.columns.contains("w"))
        edges.select(col("src").cast("long"), col("dst").cast("long"),
          col("w").cast("long"))
      else
        edges.select(col("src").cast("long"), col("dst").cast("long"),
          lit(1L).as("w"))
    val checked = weighted.select(col("src"), col("dst"),
        assert_true(col("w") >= 0L,
          lit("buildGraphIndex: edge weights must be non-negative " +
            "(the SSSP min-relaxation consumer has no fixpoint under " +
            "negative weights)")).as("__ck"), col("w"))
      .filter(col("__ck").isNull).drop("__ck")
    // e feeds the degree aggregation, the node universe AND the probe
    // side of the deg join: unpersisted, a join-shaped upstream edge
    // plan would execute three times inside the one build action
    CacheOps.holding { h =>
      val e = h.persist(checked)
      import org.apache.spark.sql.expressions.Window
      val deg = e.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("deg"), sum(col("w")).as("wsum"))
      val nodes = e.select(explode(array(col("src"), col("dst"))).as("id"))
        .distinct()
        .join(deg, Seq("id"), "left")
      // walk columns: per-src dst-ordered draw intervals + the cutpoint
      // width (⌈wsum/deg⌉, floored at 1 so an all-zero-weight node can't
      // divide by zero — such a node has no drawable edge anyway); the
      // window is keyed per src, never global
      val wSrc = Window.partitionBy(col("src")).orderBy(col("dst"))
      val real = e
        .join(deg.select(col("id").as("src"), col("deg"), col("wsum")), "src")
        .select(col("src"), col("dst"), col("w"), lit(false).as("self"),
          col("deg"), col("wsum"),
          (sum(col("w")).over(wSrc) - col("w")).as("cw_lo"),
          sum(col("w")).over(wSrc).as("cw_hi"),
          expr("greatest(1L, (wsum + deg - 1) div deg)").as("cut"))
        .join(deg.select(col("id").as("dst"), col("wsum").as("wsum_dst"),
          expr("greatest(1L, (wsum + deg - 1) div deg)").as("cut_dst")),
          Seq("dst"), "left")
        .select(col("src"), col("dst"), col("w"), col("self"), col("deg"),
          col("wsum"), col("cw_lo"), col("cw_hi"), col("cut"),
          col("wsum_dst"), col("cut_dst"))
      val nullL = lit(null).cast("long")
      val selfRows = nodes.select(col("id").as("src"), col("id").as("dst"),
        lit(0L).as("w"), lit(true).as("self"), col("deg"), col("wsum"),
        nullL.as("cw_lo"), nullL.as("cw_hi"),
        expr("greatest(1L, (wsum + deg - 1) div deg)").as("cut"),
        nullL.as("wsum_dst"), nullL.as("cut_dst"))
      Bucketing.writeBucketed(real.unionByName(selfRows), table, buckets,
        keys = Seq("src"))
    }
  }

  /** [[pageRank]] over a [[buildGraphIndex]] table — identical integer
    * dynamics (the gate shares [[pageRank]]'s oracle: layout changes the
    * plan, never the answer). The edge side stays on disk bucket-
    * partitioned (never cached — the index IS the materialization); the
    * nodes-sized frames get the same persist/truncate loop hygiene. */
  def pageRankFromIndex(spark: SparkSession,
                        table: String, iterations: Int = 5,
                        scale: Long = 1000000L): DataFrame =
    CacheOps.holding(h =>
      LoopSession.handBack(spark, indexRankPlan(h, spark, table, iterations, scale)))

  /** The composed (unmaterialized) loop plan over a [[buildGraphIndex]]
    * table, its node frame persisted through `held` — the public
    * [[pageRankFromIndex]] materializes and releases; plan-shape audits
    * read the composed tree directly (a materialized result is just a
    * cache scan and hides the loop). */
  private[graft] def indexRankPlan(held: CacheOps.Scratch, spark: SparkSession,
                                   table: String, iterations: Int,
                                   scale: Long): DataFrame = {
    val idx = Bucketing.readBucketed(spark, table)
    val e = idx.filter(!col("self"))
    // deg already rides the edge rows; the node frame only needs ids —
    // and the index's self rows ARE the node universe, so the init frame
    // is a filtered bucket scan, not an explode+distinct shuffle
    val nd = held.persist(idx.filter(col("self")).select(col("src").as("id")))
    loopRanks(nd, ranks => {
      val r = ranks.select(col("id").as("csrc"), col("rank").as("crank"))
      e.join(r, e("src") === col("csrc"))
        .select(col("dst"), expr("crank div deg").as("contrib"))
    }, iterations, scale)
  }

  /** [[shortestPaths]] over a [[buildGraphIndex]] table — identical
    * min-relaxation (the gate shares [[shortestPaths]]'s oracle: layout
    * changes the plan, never a distance). The index IS the self-looped
    * SSSP edge frame (real rows carry w, self rows carry the zero-weight
    * loop), so each sweep joins the distance frame against the bucketed
    * scan exchange-free on the edge side — only the frontier-sized
    * distance frame moves, and a nightly depth map never re-shuffles the
    * graph. `runToFixpoint` runs the capped convergence loop of
    * [[shortestPathsFixpoint]] over the same on-disk edge side. */
  def shortestPathsFromIndex(spark: SparkSession,
                             table: String, sources: DataFrame,
                             sweeps: Int = 8,
                             runToFixpoint: Boolean = false): DataFrame = {
    require(sweeps >= 1, s"shortestPaths needs sweeps >= 1, got $sweeps")
    // the fixed-sweep branch derives its own frames inside indexSsspPlan
    if (runToFixpoint)
      ssspFixpointLoop(spark, Bucketing.readBucketed(spark, table)
        .select(col("src"), col("dst"), col("w")), ssspSeeds(sources), sweeps)._1
    else LoopSession.handBack(spark, indexSsspPlan(spark, table, sources, sweeps))
  }

  /** The composed (unmaterialized) sweep loop over a [[buildGraphIndex]]
    * table — [[shortestPathsFromIndex]] materializes it; plan-shape
    * audits read the composed tree directly (the materialized result is
    * just a cache scan and hides the loop). */
  private[graft] def indexSsspPlan(spark: SparkSession,
                                   table: String, sources: DataFrame,
                                   sweeps: Int): DataFrame = {
    val e = Bucketing.readBucketed(spark, table)
      .select(col("src"), col("dst"), col("w"))
    ssspSweeps(e, ssspSeeds(sources), sweeps)
  }

  /** The k-core of an undirected graph — iteratively peel nodes of
    * degree < k until the remainder is stable (Seidman 1983; the dense-
    * subgraph / link-farm / spam-cluster detector that complements
    * [[triangleCounts]]'s local cohesion with a global one). Input:
    * canonical distinct edges `(a, b)`, a < b. Returns (id, deg) for
    * every surviving node, deg = its degree INSIDE the core.
    *
    * Scale shape: the peel is monotone — the alive set only shrinks —
    * so each sweep is two semi-joins of the persisted edge frame
    * against the nodes-sized alive frame plus one degree aggregation
    * (all keyed shuffles, nothing collected), and equal alive COUNTS
    * between sweeps prove set equality (monotonicity), so convergence
    * detection is the count the materializing persist already ran —
    * no extra pass. The peel is a [[LoopSession.sweep]] loop;
    * sweeps are data-dependent but bounded by `maxSweeps` — the
    * fixed bound keeps SQL-oracle parity (an unrolled replay of S
    * sweeps equals the fixpoint whenever the peel converges within S,
    * since extra sweeps are no-ops). */
  def kCore(edges: DataFrame, k: Int, maxSweeps: Int = 20): DataFrame =
    LoopSession.onEdges(edges.select(col("a").cast("long"), col("b").cast("long")))(
      kCoreOn(_, k, maxSweeps))

  /** The (id, degree) frame of an undirected edge list — ONE definition
    * for the three consumers (kCore sweeps, triangleCounts, the k-core
    * gate's median-k derivation), so a future null-id or multiplicity
    * fix cannot drift between them. */
  private[graft] def degreeFrame(edges: DataFrame): DataFrame =
    edges.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))

  /** [[kCore]] over the canonical `(a: long, b: long)` edge frame of an
    * [[LoopSession.onEdges]] holder — callers that already hold the edges
    * cached (the gate derives its k from the same frame) avoid a second
    * corpus-sized cache of identical data. The peel releases the holder's
    * edge cache once its own layout copy has materialized. */
  private[graft] def kCoreOn(g: LoopSession.Edges, k: Int, maxSweeps: Int): DataFrame = {
    require(k >= 1, s"k-core needs k >= 1, got $k")
    require(maxSweeps >= 1, s"k-core needs maxSweeps >= 1, got $maxSweeps")
    // the peel's first semi-join keys the edge frame by `a` every sweep
    // (an SMJ under the loop conf): persist it partitioned AND sorted on
    // `a` once so that side is exchange-free and sort-free for the whole
    // peel; only the alive set and the already-filtered stream move
    val eLoop = g.persistMaterialized(LoopSession.bindInto(g.frame, g.loop)
      .repartition(col("a")).sortWithinPartitions(col("a")))
    // the peel never holds TWO edge-sized caches (eLoop is built from the
    // edge frame's truncated plan — this release cannot recache it);
    // VERDICT r16 #6
    g.release(g.frame)
    // monotone peel: an unchanged alive count is an unchanged set
    val stable = LoopSession.repeats(LoopSession.rowCount)
    // the initial state is every node at its full degree; sweep 0's
    // semi-joins against it would filter nothing, so it peels directly
    LoopSession.sweep(g.caller, degreeFrame(eLoop), maxSweeps) { (_, alive, i) =>
      val peeled =
        if (i == 0) alive
        else degreeFrame(eLoop
          .join(alive.select(col("id").as("a")), Seq("a"), "left_semi")
          .join(alive.select(col("id").as("b")), Seq("b"), "left_semi"))
      LoopSession.Sweep(peeled.filter(col("deg") >= k), stable)
    }._1
  }

  /** HITS hubs & authorities (Kleinberg 1999) in EXACT fixed-point
    * integer arithmetic — the second classic link-analysis scorer next
    * to [[pageRank]]: on a DIRECTED graph, a good hub points at good
    * authorities and vice versa (buyer↔supplier curation, crawl seed
    * lists pointing at quality hosts). Float HITS normalizes by an L2
    * norm (never bit-reproducible across shuffle orders); here scores
    * are longs at `scale` and each half-iteration is an exact long sum
    * over in/out neighbors followed by an integer max-rescale
    * (x·scale div max) — every op exact, so runs, partitionings and
    * engines agree bit-for-bit. The max-rescale keeps the fixed point:
    * the true HITS iterate is scale-invariant, and the per-iteration
    * maximum is as replayable as a norm while staying integral.
    *
    * Overflow bound — the BINDING constraint is the rescale's
    * (sum · scale) product, i.e. max-degree · scale² < 2⁶³: at the
    * default scale 10⁶ that is max in/out-degree ≲ 9.2·10⁶. The bound
    * is ENFORCED per half-iteration against the collected maximum
    * (a one-comparison check on a value already in hand — never a
    * silent wrap); hub-heavier graphs lower `scale`.
    *
    * Scale shape: per iteration two keyed joins of the persisted edge
    * frame against nodes-sized score frames + two aggregations; the
    * per-half max is a raw-RDD fold that fills the persisted partial
    * (the scalar the SQL replay reads as a subquery); iterations are
    * [[LoopSession.sweep]] sweeps in the right-sized cloned loop
    * session. Returns (id, hub, auth) for
    * every node in the edge list. */
  def hits(edges: DataFrame, iterations: Int = 3,
           scale: Long = 1000000L): DataFrame = {
    require(iterations >= 1, s"hits needs iterations >= 1, got $iterations")
    require(scale >= 1L, s"hits needs scale >= 1, got $scale")
    // HITS exchanges the edge frame in every half-iteration's join —
    // size the width to that edge traffic (whole-stage codegen stays
    // off at this scale, expression codegen too on small graphs:
    // keeping whole-stage on was A/B-measured worse, per-sweep Janino
    // compiles outweigh interpreting the joins)
    LoopSession.onEdges(edges.select(col("src").cast("long"),
        col("dst").cast("long")).distinct(), rowsPerPartition = 100000L) { g =>
      if (g.rows == 0) noScores(g.caller) // no graph (matches the oracle's joins)
      else {
        val e = LoopSession.bindInto(g.frame, g.loop)
        // the node universe feeds every iteration's rebuild — persist once
        // (the r12 PageRank lesson: lazy, it re-runs an edges-sized
        // distinct per reference); explode, not a union of two
        // projections — the union scans the edge cache once per branch
        val nodes = g.persistMaterialized(
          e.select(explode(array(col("src"), col("dst"))).as("id")).distinct())
        // the hub half pulls along out-edges — expressed as a src-keyed
        // join over the REVERSED frame (a map over the same cache scan),
        // so hitsLoop has one join shape both hits and hitsFromIndex share
        // both orientation frames persist partitioned AND sorted on src —
        // the key every half-iteration's sort-merge join uses, so the
        // edge side of all 2*iterations pulls is exchange-free and
        // sort-free (only the nodes-sized score frame moves per half)
        val eFwd = g.persistMaterialized(
          e.repartition(col("src")).sortWithinPartitions(col("src")))
        val eRev = g.persistMaterialized(
          e.select(col("dst").as("src"), col("src").as("dst"))
            .repartition(col("src")).sortWithinPartitions(col("src")))
        // the edge cache has no consumer past this point — nodes/eFwd/eRev
        // are all materialized from its TRUNCATED plan (bindInto), so this
        // release cannot recache them; holding it through the loop tripled
        // the edge-sized cache residency for nothing (ADVICE r16)
        g.release(g.frame)
        hitsLoop(g.caller, eFwd, eRev, nodes, iterations, scale)
      }
    }
  }

  /** The empty (id, hub, auth) result of a graph with no edges. */
  private def noScores(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Long)].toDF("id", "hub", "auth")
  }

  /** [[hits]] over a [[buildGraphIndex]] table — identical dynamics (the
    * gate shares [[hits]]'s oracle). HITS needs BOTH orientations of the
    * directed graph, so the table must be a SYMMETRIZED build (one row
    * per orientation) with `forward` selecting the forward-orientation
    * rows — e.g. a parity predicate on typed node ids. Both halves then
    * read the edge side as a src-keyed join against the bucketed scan
    * (exchange-free): the authority half over the forward rows, the hub
    * half over the reverse rows (each reverse row (s, c) IS the reversed
    * forward edge (c, s), so joining the fresh authority mass on its src
    * and aggregating on its dst is exactly the out-edge pull). */
  def hitsFromIndex(spark: SparkSession, table: String,
                    forward: Column, iterations: Int = 3,
                    scale: Long = 1000000L): DataFrame = {
    require(iterations >= 1, s"hits needs iterations >= 1, got $iterations")
    require(scale >= 1L, s"hits needs scale >= 1, got $scale")
    val idx = Bucketing.readBucketed(spark, table)
    val real = idx.filter(!col("self"))
    val eFwd = real.filter(forward).select(col("src"), col("dst"))
    val eRev = real.filter(!forward).select(col("src"), col("dst"))
    CacheOps.holding { h =>
      val (nodes, nNodes) =
        h.persistCounted(idx.filter(col("self")).select(col("src").as("id")))
      if (nNodes == 0) noScores(spark) // no graph (matches the oracle's joins)
      else hitsLoop(spark, eFwd, eRev, nodes, iterations, scale)
    }
  }

  /** The HITS mutual-reinforcement loop over pre-shaped halves: `eFwd`
    * serves the authority pull (join hub mass on src, aggregate on dst),
    * `eRev` — the REVERSED forward edges — serves the hub pull the same
    * way, so the edge side's join key is always src (the bucketed-index
    * layout key). */
  private def hitsLoop(caller: SparkSession,
                       eFwd: DataFrame, eRev: DataFrame, nodes: DataFrame,
                       iterations: Int, scale: Long): DataFrame = {
    // one half-iteration: pull `score` mass along the src-keyed `e`, into
    // a lazily persisted partial whose max fold fills it (one raw-RDD job
    // per half, no SQL execution), then rescale by that max — the
    // (max · scale) product is overflow-checked on the value already in hand
    def half(scratch: CacheOps.Scratch, e: DataFrame, from: DataFrame,
             score: String, out: String): DataFrame = {
      val raw = scratch.persist(e.join(from.select(col("id").as("src"),
        col(score).as("s")), "src").groupBy(col("dst").as("id"))
        .agg(sum(col("s")).as("r")))
      // (id, r) rows; None when the orientation has no edges
      val top = LoopSession.fold(raw)(Option.empty[Long])((m, row) =>
        if (row.isNullAt(1)) m else (m ++ Some(row.getLong(1))).maxOption)(
        (a, b) => (a ++ b).maxOption)
      require(top.nonEmpty,
        "hits: an orientation has no edges — the mutual " +
          "reinforcement needs both halves non-empty")
      val m = top.get
      require(m <= Long.MaxValue / scale,
        s"hits: summed score $m would overflow at scale $scale " +
          s"(max-degree * scale^2 must stay below 2^63) — lower `scale`")
      nodes.join(raw, Seq("id"), "left").select(col("id"),
        coalesce(expr(s"(r * ${scale}L) DIV ${m}L"), lit(0L)).as(out))
    }
    LoopSession.sweep(caller,
      nodes.withColumn("hub", lit(scale)).withColumn("auth", lit(scale)),
      iterations) { (scratch, state, _) =>
      // authority half pulls hub mass along in-edges; hub half pulls the
      // fresh authority mass along out-edges (the reversed rows)
      val aNew = half(scratch, eFwd, state, "hub", "auth")
      val hNew = half(scratch, eRev, aNew, "auth", "hub")
      LoopSession.Sweep(hNew.join(aNew, "id")
        .select(col("id"), col("hub"), col("auth")), LoopSession.materialize)
    }._1
  }

  /** Synchronous label-propagation communities (Raghavan et al. 2007) —
    * the community detector completing the graph family next to
    * [[pageRank]] (centrality), [[triangleCounts]]/[[kCore]] (cohesion)
    * and the dedup connected components: topical clusters / link farms /
    * near-dup federations in similarity and host graphs. Input: canonical
    * distinct undirected edges `(a, b)`; any long ids, including negative
    * or hashed ones (the tie-break negates the sweep's COUNT, never the
    * label). Returns (id, community) for every node in the edge list,
    * community = a member node's id.
    *
    * Determinism: plain LPA breaks ties randomly and updates
    * asynchronously — neither replays. Here every node starts as its own
    * label and each synchronous sweep adopts the most frequent neighbor
    * label with ties to the SMALLEST label — a pure function of the edge
    * set, so runs, partitionings and engines agree exactly. `sweeps` is
    * FIXED by default (not run-to-convergence): synchronous LPA can
    * oscillate on bipartite-ish structure, and a fixed bound both caps
    * the cost and keeps SQL-oracle parity (an unrolled replay computes
    * the identical state, converged or not). `runToFixpoint = true`
    * exits as soon as a sweep changes no label, with `sweeps` as the
    * hard cap — see [[labelPropagationCounted]].
    *
    * Scale shape: per sweep ONE keyed join of the persisted
    * both-directions adjacency against the nodes-sized label frame, one
    * (node, label) count aggregation, and one per-node argmax as a
    * max-of-struct aggregate — no windows, nothing collected; sweeps
    * run through [[LoopSession.sweep]]. */
  def labelPropagation(edges: DataFrame, sweeps: Int = 4,
                       runToFixpoint: Boolean = false): DataFrame =
    labelPropagationCounted(edges, sweeps, runToFixpoint)._1

  /** [[labelPropagation]] also returning the number of sweeps RUN —
    * with `runToFixpoint` the loop exits as soon as a synchronous sweep
    * changes no label (sweepsRun < sweeps proves the early exit;
    * spec-pinned). Synchronous LPA is a deterministic function of the
    * label state, so an unchanged state makes every later sweep a no-op
    * and the early exit is exact, not approximate; `sweeps` stays the
    * hard cap because synchronous LPA can OSCILLATE on bipartite-ish
    * structure and a convergence-only loop would never terminate there
    * (VERDICT r14 #1 — fixed sweeps remain the oracle-gated default;
    * fixpoint mode is the production setting for deep community
    * structure, at one extra nodes-sized join+count per sweep). */
  private[graft] def labelPropagationCounted(
      edges: DataFrame, sweeps: Int = 4,
      runToFixpoint: Boolean = false): (DataFrame, Int) = {
    require(sweeps >= 1, s"labelPropagation needs sweeps >= 1, got $sweeps")
    // the adjacency persists partitioned AND sorted on nbr — the key
    // every sweep's sort-merge join uses — so the corpus-sized side of
    // all `sweeps` joins is exchange-free and sort-free; only the
    // nodes-sized label frame moves per sweep
    LoopSession.onEdges(edges.select(col("a").cast("long"), col("b").cast("long"))
        .select(explode(array(
          struct(col("a").as("node"), col("b").as("nbr")),
          struct(col("b").as("node"), col("a").as("nbr")))).as("e"))
        .select(col("e.node").as("node"), col("e.nbr").as("nbr"))
        .repartition(col("nbr")).sortWithinPartitions(col("nbr"))) { g =>
      // truncated WITH layout (ADVICE r16): keeps the hashpartitioning(nbr)
      // + sort metadata while flattening the upstream adjacency plan out of
      // every sweep's logical tree
      val adj = Bridge.rebind(Bridge.truncatePlanKeepLayout(g.frame), g.loop)
      labelSweeps(g.caller, adj, "nbr", "node",
        adj.select(col("node").as("id")).distinct(), sweeps, runToFixpoint)
    }
  }

  /** The synchronous min-tie LPA loop over an adjacency `adj` whose
    * `nbrCol` is the label's source and `nodeCol` the adopting node —
    * the inline operator's persisted (nbr, node) frame or an index's
    * (src, dst) rows; `nodes(id)` is the node universe. Returns the
    * (id, community) labels and the number of sweeps run. */
  private def labelSweeps(caller: SparkSession,
                          adj: DataFrame, nbrCol: String, nodeCol: String,
                          nodes: DataFrame, sweeps: Int,
                          runToFixpoint: Boolean): (DataFrame, Int) =
    LoopSession.sweep(caller, nodes.withColumn("community", col("id")),
      sweeps) { (_, labels, _) =>
      // the neighbor side keys by nbrCol (the adjacency's layout key):
      // the edge side reaches the join exchange-free, only labels move
      val counts = adj
        .join(labels.select(col("id").as(nbrCol), col("community").as("lbl")),
          nbrCol)
        .groupBy(col(nodeCol).as("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      // argmax(count, then smallest label): min over (-c, lbl) structs —
      // the count is what gets negated (always safe: it is a positive
      // aggregate this sweep just computed), never the label, so negative
      // or hashed node ids order correctly and Long.MinValue cannot
      // overflow (ADVICE r13)
      val next = counts.groupBy(col("node"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl"))).as("m"))
        .select(col("node").as("id"), col("m.lbl").as("community"))
      // fixpoint mode: the changed-label count IS the materializing
      // action, and zero changes proves the fixpoint (both sides are
      // persisted nodes-sized frames — a cache-scan keyed join)
      LoopSession.Sweep(next,
        if (!runToFixpoint) LoopSession.materialize
        else _.join(labels.select(col("id"), col("community").as("__prev")),
            "id").filter(col("community") =!= col("__prev")).count() == 0L)
    }

  /** `score(e, labels)` over `edges` persisted as `e` and its
    * [[labelPropagation]] `labels` after `sweeps` sweeps — the modularity
    * step and the gates that score or refine an LPA labeling. Both caches
    * are held by one [[CacheOps.holding]] scratch: released when
    * `score` returns, and (blocking) when the label propagation or
    * `score` throws. The edge cache persists lazily: the label
    * propagation's own edge persist fills it. */
  private[graft] def scoreLabels(edges: DataFrame, sweeps: Int)
                                (score: (DataFrame, DataFrame) => DataFrame): DataFrame =
    CacheOps.holding { h =>
      val e = h.persist(edges)
      score(e, h.hold(labelPropagation(e, sweeps)))
    }

  /** Single-/multi-source shortest paths by synchronous integer
    * min-relaxation (Bellman-Ford sweeps; with unit weights this IS the
    * BFS depth layer — crawl-depth maps, link-distance features next to
    * [[pageRank]]'s centrality). Input: `edges(src, dst[, w])` — a
    * missing `w` column means unit weights; weights must be NON-NEGATIVE
    * longs (enforced: a negative weight breaks the min-relaxation's
    * monotone fixpoint). `sources(id)` seeds distance 0. Returns
    * (id, dist) for every node REACHED within `sweeps` relaxations —
    * exact longs, so any engine replays the frontier bit-for-bit.
    *
    * Fixed sweep count by default: a sweep-S state equals the true
    * fixpoint whenever every shortest path from the sources has ≤ S
    * edges (post-fixpoint sweeps are no-ops), and the fixed bound keeps
    * SQL-oracle parity — an unrolled replay computes the identical
    * state, converged or not (the kCore / labelPropagation lesson).
    * `runToFixpoint = true` instead runs until the distance frame stops
    * changing (capped at `sweeps`) — the production mode when the
    * graph's diameter may exceed any fixed budget; see
    * [[shortestPathsFixpoint]] for the monotone-pair detection.
    *
    * Scale shape: the loopRanks trick, flipped to min — a ZERO-WEIGHT
    * SELF-LOOP per node rides the persisted edge frame, so each sweep is
    * ONE keyed join of edges against the frontier-sized distance frame
    * plus ONE min-aggregation by dst (the self-loop carries a node's own
    * distance into the min, making the relaxation monotone without a
    * second reference to the distance frame — the plan stays COMPOSED
    * and linear across sweeps, one action total). The distance frame
    * only ever holds REACHED nodes, so early sweeps move frontier-sized
    * data, not graph-sized. Runs in the right-sized cloned loop session
    * like the rank loops. A source absent from the edge list has no
    * self-loop and is dropped (it reaches nothing, nothing reaches it). */
  def shortestPaths(edges: DataFrame, sources: DataFrame,
                    sweeps: Int = 8,
                    runToFixpoint: Boolean = false): DataFrame = {
    require(sweeps >= 1, s"shortestPaths needs sweeps >= 1, got $sweeps")
    if (runToFixpoint) shortestPathsFixpoint(edges, sources, sweeps)._1
    else onSsspEdges(edges, sources)((caller, e, d0) =>
      LoopSession.handBack(caller, ssspSweeps(e, d0, sweeps)))
  }

  /** `run(caller, e, d0)` over the persisted SSSP edge frame [[ssspEdges]]
    * and the seed distances, both rebound into the loop session. */
  private def onSsspEdges[A](edges: DataFrame, sources: DataFrame)
                            (run: (SparkSession, DataFrame, DataFrame) => A): A =
    LoopSession.onEdges(ssspEdges(edges), rowsPerPartition = 100000L) { g =>
      run(g.caller, Bridge.rebind(g.frame, g.loop),
        Bridge.rebind(ssspSeeds(sources), g.loop))
    }

  /** The (id, dist = 0) seed frame of the `sources(id)` nodes. */
  private def ssspSeeds(sources: DataFrame): DataFrame =
    sources.select(col("id").cast("long")).distinct().withColumn("dist", lit(0L))

  /** The src-partitioned SSSP edge frame: weights defaulted / checked
    * non-negative, plus the ZERO-WEIGHT SELF-LOOP per node that lets each
    * sweep carry a node's own distance through ONE min-aggregation (no
    * second reference to the distance frame). */
  private def ssspEdges(edges: DataFrame): DataFrame = {
    val weighted =
      if (edges.columns.contains("w"))
        edges.select(col("src").cast("long"), col("dst").cast("long"),
          col("w").cast("long"))
      else
        edges.select(col("src").cast("long"), col("dst").cast("long"),
          lit(1L).as("w"))
    // the non-negativity contract rides the one materializing pass the
    // persist pays anyway (the triangleCounts enforcement pattern)
    val checked = weighted.select(col("src"), col("dst"),
        assert_true(col("w") >= 0L,
          lit("shortestPaths: edge weights must be non-negative " +
            "(min-relaxation has no fixpoint under negative weights)"))
          .as("__ck"), col("w"))
      .filter(col("__ck").isNull).drop("__ck")
    checked.unionByName(
      checked.select(explode(array(col("src"), col("dst"))).as("src"))
        .distinct()
        .select(col("src"), col("src").as("dst"), lit(0L).as("w")))
      .repartition(col("src")).sortWithinPartitions(col("src"))
  }

  /** One min-relaxation: edges ⋈ distances keyed by src, min(dist+w) by
    * dst — the self-loop row carries each reached node's own distance. */
  private def ssspSweep(e: DataFrame, d: DataFrame): DataFrame =
    e.join(d.select(col("id").as("src"), col("dist")), "src")
      .groupBy(col("dst"))
      .agg(min(col("dist") + col("w")).as("dist"))
      .select(col("dst").as("id"), col("dist"))

  /** `sweeps` min-relaxations composed into one plan. */
  private def ssspSweeps(e: DataFrame, d0: DataFrame, sweeps: Int): DataFrame =
    (0 until sweeps).foldLeft(d0)((d, _) => ssspSweep(e, d))

  /** [[shortestPaths]] run to the TRUE fixpoint, capped at `maxSweeps` —
    * the production mode for graphs whose diameter may exceed a fixed
    * sweep budget (VERDICT r14 #1: a fixed-sweep depth map on a deeper
    * graph silently returns the sweep-S state). Fixed sweeps stay the
    * oracle-gated default: their unrolled SQL replay is exact; this mode
    * trades that for convergence DETECTION at one nodes-sized fold per
    * sweep.
    *
    * Convergence is the kCore count-equality trick extended to the
    * monotone PAIR (reached-count, Σdist): between sweeps the reached
    * set only grows and every distance only shrinks, so equal count ⟹
    * no new nodes, and then equal sum ⟹ every distance unchanged —
    * set equality proven from two scalars the per-sweep materializing
    * fold computes in ONE job (the sum is an exact BigInt, so a
    * planet-scale dist sum cannot wrap into a false equality). Sweeps
    * run through [[LoopSession.sweep]], whose per-sweep persistence also
    * bounds the plan at cache-scan + join + agg instead of the composed
    * linear growth.
    *
    * Returns (distances, sweepsRun); sweepsRun < maxSweeps proves early
    * exit (spec-pinned). A state that converged at sweep k runs k+1
    * sweeps (the fixpoint is detected by observing one no-op sweep). */
  private[graft] def shortestPathsFixpoint(edges: DataFrame,
                                           sources: DataFrame,
                                           maxSweeps: Int): (DataFrame, Int) = {
    require(maxSweeps >= 1,
      s"shortestPaths needs maxSweeps >= 1, got $maxSweeps")
    onSsspEdges(edges, sources)(ssspFixpointLoop(_, _, _, maxSweeps))
  }

  /** [[labelPropagation]] over a SYMMETRIZED [[buildGraphIndex]] table —
    * the third family on the shared index (ranks, distances, now
    * communities: build once, analyze many). A symmetric build's real
    * rows ARE the both-directions adjacency, read keyed by the BUCKET
    * column: each sweep joins the nodes-sized label frame against the
    * on-disk edge side exchange-free (src = the neighbor, dst = the
    * adopting node), and the self rows are the node universe, so the
    * init labels are a filtered bucket scan instead of a distinct
    * shuffle. Identical synchronous min-tie dynamics to the inline
    * operator — a gate over the same graph shares the same unrolled
    * oracle. Input contract: the index must have been built over a
    * both-directions edge list (src→dst and dst→src both present);
    * `sweeps`/`runToFixpoint` as in [[labelPropagation]]. */
  def labelPropagationFromIndex(spark: SparkSession,
                                table: String, sweeps: Int = 4,
                                runToFixpoint: Boolean = false): DataFrame = {
    require(sweeps >= 1, s"labelPropagation needs sweeps >= 1, got $sweeps")
    val idx = Bucketing.readBucketed(spark, table)
    labelSweeps(spark, idx.filter(!col("self")).select(col("src"), col("dst")),
      "src", "dst", idx.filter(col("self")).select(col("src").as("id")),
      sweeps, runToFixpoint)._1
  }

  /** The capped SSSP convergence loop shared by the inline
    * ([[shortestPathsFixpoint]]) and indexed
    * ([[shortestPathsFromIndex]]) paths: `e` is any self-looped
    * (src, dst, w) edge frame, `d0` the (id, dist=0) seed frame; the
    * result is handed back rebound to `caller` with its persist intact
    * (the caller's unpersist matches the cache entry). */
  private def ssspFixpointLoop(caller: SparkSession,
                               e: DataFrame, d0: DataFrame,
                               maxSweeps: Int): (DataFrame, Int) = {
    // the monotone-pair fold IS the materializing action: one job; the
    // sum is an exact BigInt. Row layout is (id, dist).
    val stable = LoopSession.repeats(LoopSession.fold(_)((0L, BigInt(0)))((c, r) =>
      (c._1 + 1L, if (r.isNullAt(1)) c._2 else c._2 + r.getLong(1)))(
      (a, b) => (a._1 + b._1, a._2 + b._2)))
    LoopSession.sweep(caller, d0, maxSweeps) { (_, d, _) =>
      LoopSession.Sweep(ssspSweep(e, d), stable)
    }
  }

  /** Strongly connected components of a DIRECTED graph — the directed
    * complement of [[Dedup.representatives]] (spider-trap / link-farm loop
    * detection in crawl graphs, mutual-trade cycles in interaction
    * graphs). Deterministic forward-backward min-label coloring (the
    * classic distributed FW-BW/coloring scheme — cf. Orzan 2004; the
    * GraphX SCC shape re-expressed as keyed joins): per round,
    *   1. FORWARD: f(v) = the minimum label that reaches v within the
    *      active subgraph, by `sweeps` synchronous min-folds;
    *   2. BACKWARD: mark every node that reaches its color's root
    *      THROUGH its own color class, by `sweeps` reversed reach
    *      sweeps from the roots (f(v) = v);
    *   3. marked nodes are exactly the SCCs of the color roots — emit
    *      (id, scc = f), deactivate, repeat on the remainder.
    * Output labels are each SCC's minimum member id. Both sweep loops
    * use the self-loop trick (a (v, v) row per active node rides the
    * per-round edge frame), so each sweep references its state frame
    * ONCE — one keyed join + one aggregation, composed linearly.
    *
    * Fixed budgets, early exit: `rounds` is a hard cap but an empty
    * active set exits immediately (no-op rounds emit nothing, so the
    * early exit is invisible to the unrolled SQL oracle — same result,
    * fewer jobs). A node still active after `rounds` is OMITTED from
    * the output (documented partial result; raise `rounds`).
    * CONVERGENCE CONTRACT on `sweeps`: every emitted (id, scc) pair is
    * genuinely co-cyclic with its root (the backward pass certifies a
    * color-internal path, any forward label certifies reachability), but
    * an UNDER-SWEPT forward pass can split one large SCC across two
    * roots in the same round. Pick sweeps ≥ the min-label propagation
    * depth of the biggest SCC (the gate's budgets are probed stable at
    * sweeps and sweeps+2 across all SFs — the fixed-sweep ≡ fixpoint
    * discipline).
    *
    * Scale shape: per round, two semi-joins build the active edge frame
    * (persisted — it feeds 2·sweeps joins), the sweep loops move only
    * nodes-sized label/marked frames, and the round's state — every
    * node with its scc, null while still active — is one
    * [[LoopSession.sweep]] state: trim passes and coloring rounds are
    * sweeps of one loop, each ONE job (the state's count-pair fold,
    * which fills the round's caches too); all in the right-sized cloned
    * loop session. */
  /** `trimPasses` > 0 runs that many TRIM passes before each round's
    * coloring (the standard FW-BW accelerator — Hong et al. 2013's
    * trim step): a node with no in-edge or no out-edge WITHIN the
    * active subgraph is its own SCC by construction, so it emits
    * (id, id) and deactivates without paying the 2·sweeps coloring
    * joins. Crawl-shaped graphs are mostly DAG — un-trimmed FW-BW
    * peels ONE chain layer per round there, trimmed it strips whole
    * chain prefixes/suffixes per pass. Changes the path, never the
    * answer (the SCC partition is canonical and labels are min member
    * ids — spec-pinned trim ≡ no-trim); default 0 keeps the gate's
    * unrolled oracle shape. */
  def stronglyConnectedComponents(edges: DataFrame, rounds: Int = 3,
                                  sweeps: Int = 6,
                                  trimPasses: Int = 0): DataFrame = {
    require(rounds >= 1, s"scc needs rounds >= 1, got $rounds")
    require(sweeps >= 1, s"scc needs sweeps >= 1, got $sweeps")
    require(trimPasses >= 0, s"scc needs trimPasses >= 0, got $trimPasses")
    LoopSession.onEdges(edges.select(col("src").cast("long"),
        col("dst").cast("long")).distinct()) { g =>
      val e = LoopSession.bindInto(g.frame, g.loop)
      // Every scratch frame below persists LAZILY: the sweep's signal is
      // its one job and fills them all (the LoopSession.sweep contract).
      // The node-sized frames a round composes into multi-reference joins
      // (colors, marks) persist and truncate: untruncated, the LOGICAL
      // plans grow combinatorially across rounds and the ANALYZER — not
      // the data — hangs by round 3 (measured: minutes on a 7-node
      // fixture). The composed sweeps between them reference their state
      // once per sweep and stay linear.
      def flat(scratch: CacheOps.Scratch, df: DataFrame): DataFrame =
        Bridge.truncatePlan(scratch.persist(df))
      // Edge-shaped round frames (ae, ce) instead persist HASH-PARTITIONED
      // AND SORTED on their sweep-join key, NOT truncated (truncation
      // would erase the layout): the cached scan reports its partitioning
      // and ordering, so the edge side of every per-round sort-merge join
      // (the loop session vetoes broadcast and shuffled-hash) is
      // exchange-free and sort-free — only the nodes-sized label/mark
      // frame moves per sweep (guide §2.4).
      def keyed(scratch: CacheOps.Scratch, df: DataFrame, key: String) =
        scratch.persist(df.repartition(col(key)).sortWithinPartitions(col(key)))
      // TRIM: a node with no active in-edge or no active out-edge is its
      // own SCC
      def trim(scratch: CacheOps.Scratch, active: DataFrame): DataFrame = {
        val aeR = scratch.persist(
          e.join(active.select(col("id").as("src")), Seq("src"), "left_semi")
            .join(active.select(col("id").as("dst")), Seq("dst"), "left_semi"))
        val core = active
          .join(aeR.select(col("dst").as("id")), Seq("id"), "left_semi")
          .join(aeR.select(col("src").as("id")), Seq("id"), "left_semi")
        active.join(core, Seq("id"), "left_anti")
          .select(col("id"), col("id").as("found"))
      }
      // FW-BW coloring over the active-subgraph edges plus one self-loop
      // per active node (the self rows carry each node's own label/mark
      // through the sweeps' aggregations — single-reference, linear
      // plans). `allActive` skips the two edge-sized semi-joins, which
      // filter nothing while no node has been assigned yet.
      def color(scratch: CacheOps.Scratch, active: DataFrame,
                allActive: Boolean): DataFrame = {
        val aeEdges =
          if (allActive) e
          else e
            .join(active.select(col("id").as("src")), Seq("src"), "left_semi")
            .join(active.select(col("id").as("dst")), Seq("dst"), "left_semi")
        val ae = keyed(scratch, aeEdges.unionByName(
          active.select(col("id").as("src"), col("id").as("dst"))), "src")
        var f = active.select(col("id"), col("id").as("f"))
        for (_ <- 0 until sweeps)
          f = ae.join(f.select(col("id").as("src"), col("f")), "src")
            .groupBy(col("dst")).agg(min(col("f")).as("f"))
            .select(col("dst").as("id"), col("f"))
        val fp = flat(scratch, f)
        // color-internal edges (self rows pass trivially: f = f)
        val ce = keyed(scratch,
          ae.join(fp.select(col("id").as("src"), col("f").as("fs")), "src")
            .join(fp.select(col("id").as("dst"), col("f").as("fd")), "dst")
            .filter(col("fs") === col("fd"))
            .select(col("src"), col("dst")), "dst")
        // backward reach from the roots, within color: a node is marked
        // when any color-internal out-edge hits a marked node (the self
        // row keeps marked nodes marked)
        var m = fp.filter(col("id") === col("f")).select(col("id"))
        for (_ <- 0 until sweeps)
          m = ce.join(m.select(col("id").as("dst")), "dst")
            .select(col("src").as("id")).distinct()
        fp.join(flat(scratch, m), "id").select(col("id"), col("f").as("found"))
      }
      // the state is every node with its scc label, null while active;
      // one fold counts the still-active nodes (an empty active set exits)
      // and the assigned ones (round 0 colors all nodes while it is 0).
      // Row layout is (id, scc).
      var nAssigned = 0L
      val signal: DataFrame => Boolean = state => {
        val (active, assigned) = LoopSession.fold(state)((0L, 0L))((c, r) =>
          if (r.isNullAt(1)) (c._1 + 1L, c._2) else (c._1, c._2 + 1L))(
          (a, b) => (a._1 + b._1, a._2 + b._2))
        nAssigned = assigned
        active == 0L
      }
      // each round is trimPasses trim sweeps, then one coloring sweep
      LoopSession.sweep(g.caller,
        e.select(explode(array(col("src"), col("dst"))).as("id")).distinct()
          .select(col("id"), lit(null).cast("long").as("scc")),
        rounds * (trimPasses + 1),
        finish = states => states.last.filter(col("scc").isNotNull)) {
        (scratch, state, i) =>
          val active = state.filter(col("scc").isNull).select(col("id"))
          val found =
            if (i % (trimPasses + 1) < trimPasses) trim(scratch, active)
            else color(scratch, active, i == trimPasses && nAssigned == 0L)
          LoopSession.Sweep(state.join(found, Seq("id"), "left")
            .select(col("id"), coalesce(col("scc"), col("found")).as("scc")),
            signal)
      }._1
    }
  }

  /** Newman-Girvan modularity of a community assignment over an
    * undirected graph — the graded quality signal for
    * [[labelPropagation]]'s output (and a degeneracy cross-check: a
    * labeling that merged everything, or split every node out, scores
    * ~0). Q = Σ_c [ m_c/m − (d_c/2m)² ] with m = |edges|, m_c =
    * intra-community edges, d_c = the community's total degree; here
    * each community's contribution is carried as the EXACT integer
    * numerator over the common denominator 4m²:
    * q_num = 4·m·m_c − d_c², q = q_num / (4m²) — one IEEE division of
    * two exact longs, so the doubles are bit-exact cross-engine.
    * Overflow bound (enforced on the 1-row edge count): m < 1.5·10⁹
    * keeps 4m² inside a long — beyond that, scale by sampling or carry
    * the rational in two columns.
    *
    * Input: canonical distinct edges `(a, b)` (no self-loops, a ≠ b) and
    * `labels(id, community)` covering the edge list's nodes (unlabeled
    * endpoints drop from both the degree and intra-edge sums — inner
    * joins, documented). Returns one row per community:
    * (community, n_nodes, deg_sum, internal_edges, q_num, q).
    *
    * Scale shape: two keyed joins of the edge frame against the
    * nodes-sized label frame, two keyed aggregations, and a broadcast of
    * the 1-row global (m) — nothing collected, no windows. */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame =
    LoopSession.onEdges(edges.select(col("a").cast("long"), col("b").cast("long"))) { g =>
      // fixed pipeline of keyed joins/aggs over nodes/edges-sized frames —
      // run at the shared right-sized loop width like the sweep loops
      // (same rationale as louvainStepWeighted)
      val e0 = Bridge.rebind(g.frame, g.loop)
      val lab = Bridge.rebind(g.persist(labels.select(col("id").cast("long"),
        col("community").cast("long"))), g.loop)
      val m = e0.agg(count(lit(1)).as("m"))
        .select(assert_true(col("m") < 1500000000L,
            lit("modularity: 4*m^2 must fit a long — m < 1.5e9")).as("__ck"),
          col("m"))
        .filter(col("__ck").isNull).drop("__ck")
      val dsum = degreeFrame(e0).join(lab, "id")
        .groupBy(col("community"))
        .agg(sum(col("deg")).as("deg_sum"), count(lit(1)).as("n_nodes"))
      val intra = e0
        .join(lab.select(col("id").as("a"), col("community").as("ca")), "a")
        .join(lab.select(col("id").as("b"), col("community").as("cb")), "b")
        .filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("community"))
        .agg(count(lit(1)).as("internal_edges"))
      LoopSession.handBack(g.caller,
        dsum.join(intra, Seq("community"), "left")
          .na.fill(0L, Seq("internal_edges"))
          .crossJoin(broadcast(m))
          .select(col("community"), col("n_nodes"), col("deg_sum"),
            col("internal_edges"),
            (lit(4L) * col("m") * col("internal_edges") -
              col("deg_sum") * col("deg_sum")).as("q_num"),
            ((lit(4L) * col("m") * col("internal_edges") -
              col("deg_sum") * col("deg_sum")).cast("double") /
              (lit(4L) * col("m") * col("m")).cast("double")).as("q")))
    }

  /** Per-node triangle participation counts over an undirected graph —
    * the standard cohesion / clustering signal (community density in a
    * similarity graph, link-farm detection in a host graph). Input:
    * canonical distinct edges `(a: long, b: long)` with a < b, no
    * self-loops; ids must fit 40 bits and degrees 23 bits (the packed
    * degree-order key below). Returns (id, tri) for every node in ≥1
    * triangle.
    *
    * Scale shape is the degree-ordering algorithm (the MapReduce
    * triangle-count formulation of Suri & Vassilvitskii, WWW'11 — see
    * also Cohen, "Graph Twiddling in a MapReduce World"): orient every
    * edge from its lower-(degree, id) endpoint to the higher one, so
    * every node's OUT-degree is O(√m) and the wedge self-join — the only
    * super-linear step — is Σ outdeg² ≤ m^1.5 instead of the Σ deg²
    * hub blow-up of naive adjacency joins. All steps are keyed shuffles
    * (edges⋈degree twice, the wedge self-join on the apex, the closing
    * join on (y, z)); nothing is collected, no windows, no cartesians.
    * The edge frame feeds four plan branches, so it is persisted and
    * released after the (triangle-sized) result materializes. */
  def triangleCounts(edges: DataFrame): DataFrame =
    LoopSession.onEdges(edges.select(col("a").cast("long"), col("b").cast("long"))) { g =>
      // DETACHED: the oriented-edge release on return would otherwise
      // recache (invalidate) the result and re-run the wedge join on
      // first read
      g.detached(triangles(g))
    }

  /** The (id, tri) plan of [[triangleCounts]] over the held edge frame
    * of `g`, its oriented edges persisted through `g` — shared by
    * [[triangleCounts]] and [[clusteringCoefficients]], so the edge frame
    * is persisted once per call. */
  private def triangles(g: LoopSession.Edges): DataFrame = {
    val deg = degreeFrame(g.frame)
    // total-order key packing (deg, id) into one long: orientation and
    // every downstream comparison become plain integer < on kk.
    // The packing contract (ids in [0, 2^40), degrees < 2^23) is
    // ENFORCED here, not just documented — out-of-range ids (e.g. a
    // config pipeline feeding xxhash64 ids) would otherwise collide
    // keys and return silently wrong counts. The check rides the
    // nodes-sized frame, never the edges.
    val kmap = deg.select(col("id"),
        assert_true(col("id") >= 0L && col("id") < lit(1099511627776L) &&
            col("deg") < lit(8388608L),
          lit("triangleCounts: node ids must be in [0, 2^40) and degrees" +
            " < 2^23 (remap hashed/negative ids first)")).as("__ck"),
        (col("deg") * lit(1099511627776L) + col("id")).as("kk"))
      .filter(col("__ck").isNull).drop("__ck")
    val ek = g.frame
      .join(kmap.select(col("id").as("a"), col("kk").as("ka")), "a")
      .join(kmap.select(col("id").as("b"), col("kk").as("kb")), "b")
      .select(least(col("ka"), col("kb")).as("ks"),
        greatest(col("ka"), col("kb")).as("kd"))
    // oriented edges feed the wedge join twice + the closing probe
    val ekp = g.persistMaterialized(ek)
    val wedges = ekp.select(col("ks").as("x"), col("kd").as("y"))
      .join(ekp.select(col("ks").as("x"), col("kd").as("z")), "x")
      .filter(col("y") < col("z"))
    val tri = wedges.join(
      ekp.select(col("ks").as("y"), col("kd").as("z")), Seq("y", "z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("kk"))
      .groupBy(col("kk")).agg(count(lit(1)).as("tri"))
      .select(pmod(col("kk"), lit(1099511627776L)).as("id"), col("tri"))
  }

  /** Per-node local clustering coefficient (Watts & Strogatz 1998) —
    * [[triangleCounts]] normalized by the possible wedge count:
    * cc = 2·tri / (deg·(deg−1)), the per-node cohesion ratio that
    * separates "hub of a dense clique" from "hub of a star" at equal
    * degree. Input contract = [[triangleCounts]]'s (canonical distinct
    * `(a, b)`, a < b, ids < 2^40, degrees < 2^23). Returns one row per
    * node in ≥ 1 triangle: (id, tri, deg, cc_num = 2·tri, cc_den =
    * deg·(deg−1), cc) — exact integer rational plus ONE IEEE division,
    * so any engine replays the doubles bit-for-bit. Scale shape: the
    * triangle count's wedge join plus one nodes-sized keyed join, over
    * one edge persist. */
  def clusteringCoefficients(edges: DataFrame): DataFrame =
    LoopSession.onEdges(edges.select(col("a").cast("long"), col("b").cast("long"))) { g =>
      g.detached(
        triangles(g).join(degreeFrame(g.frame), "id")
          .select(col("id"), col("tri"), col("deg"),
            (lit(2L) * col("tri")).as("cc_num"),
            (col("deg") * (col("deg") - 1L)).as("cc_den"),
            ((lit(2L) * col("tri")).cast("double") /
              (col("deg") * (col("deg") - 1L)).cast("double")).as("cc")))
    }

  /** Degree assortativity coefficient (Newman 2002) — the Pearson
    * correlation of endpoint degrees over the SYMMETRIZED edge list:
    * positive = hubs link hubs (social-ish), negative = hubs link leaves
    * (the link-farm / hub-and-spoke signature). Symmetrization makes the
    * x and y marginals identical, so the correlation collapses to the
    * pure RATIONAL (n·Σxy − (Σx)²) / (n·Σxx − (Σx)²) — exact longs, no
    * sqrt — and any engine replays it bit-for-bit. Returns ONE row:
    * (n, sx, sxx, sxy, r_num, r_den, r∈[−1,1] or null for a
    * degree-regular graph). Overflow bound: n·Σ(deg_a·deg_b) < 2⁶³ —
    * at 10⁹ directed edges that is mean deg² ≲ 10¹⁰, far beyond any
    * curation graph; beyond it, pre-scale degrees. Scale shape: two
    * keyed joins of the edge frame against the nodes-sized degree frame
    * plus one total aggregate — nothing collected. */
  def assortativity(edges: DataFrame): DataFrame =
    LoopSession.onEdges(edges.select(col("a").cast("long"), col("b").cast("long"))) { g =>
      val deg = g.persistMaterialized(degreeFrame(g.frame))
      val sym = g.frame.select(explode(array(
          struct(col("a").as("a"), col("b").as("b")),
          struct(col("b").as("a"), col("a").as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
      val j = sym
        .join(deg.select(col("id").as("a"), col("deg").as("dx")), "a")
        .join(deg.select(col("id").as("b"), col("deg").as("dy")), "b")
      val num = col("n") * col("sxy") - col("sx") * col("sx")
      val den = col("n") * col("sxx") - col("sx") * col("sx")
      g.detached(
        j.agg(count(lit(1)).as("n"), sum(col("dx")).as("sx"),
            sum(col("dx") * col("dx")).as("sxx"),
            sum(col("dx") * col("dy")).as("sxy"))
          .select(col("n"), col("sx"), col("sxx"), col("sxy"),
            num.as("r_num"), den.as("r_den"),
            when(den =!= 0L, num.cast("double") / den.cast("double"))
              .as("r")))
    }

  /** Deterministic random-walk corpus over a directed graph — the
    * DeepWalk / node2vec-style training-data generator (Perozzi et al.
    * 2014): `walksPerNode` walks of `steps` hops from every node with
    * out-edges, emitted as (start, walk, step, node) rows a skip-gram
    * trainer consumes directly. A driver-side RNG can't generate a
    * 100 TB walk corpus reproducibly, so the "randomness" is a pure
    * content hash: at step i the walk at node u takes u's out-edge of
    * rank H(seed, start, walk, i) mod outdeg(u), with edge ranks =
    * row_number over (src ORDER BY dst) and H = the first 15 md5 hex
    * chars as a 60-bit integer (the shared portable-hash discipline —
    * hashSampleQuantiles/samplePerGroup use the same width) —
    * reproducible across runs, partitionings, retries, and engines,
    * and any single walk is auditable by hand. Modulo bias is
    * < modulus/2⁶⁰, so weight sums up to ~10¹⁵ keep full
    * proportionality (the r15 32-bit draw silently truncated any node
    * whose Σw exceeded 2³² — ADVICE r15). A walk reaching a SINK (no
    * out-edges) terminates early (its rows up to the sink are kept —
    * documented; symmetric graphs have no sinks).
    *
    * A `w` column (positive longs; parallel edges combine) makes the
    * hop WEIGHT-PROPORTIONAL: each out-edge owns the interval
    * [cw − w, cw) of [0, Σw) in dst order and the hop takes the edge
    * whose interval contains H mod Σw — the deterministic analogue of
    * weighted transition sampling (heavily-traded pairs draw more
    * walks). The weighted hop is served by a CUTPOINT index (Chen &
    * Asau 1974): the draw domain of each node splits into outdeg
    * equal buckets of width cut = ⌈Σw/outdeg⌉ and each out-edge is
    * expanded into one row per bucket its interval intersects (≤
    * 2|E| rows total), so the hop is an exact (src, bucket) equi-join
    * whose per-walk fan-out is 1 + cut·outdeg/Σw ≤ 2 expected rows,
    * then the containment filter — O(walks) per step, not Σdeg (the
    * r15 full-out-list scan). The drawn edge for a given H is
    * IDENTICAL to the plain interval lookup, so the index changes the
    * plan, never the answer — the oracle replays naive containment.
    *
    * Scale shape: the ranked edge frame (rank + draw-mass/cut of BOTH
    * endpoints embedded) is built once with two keyed shuffles and
    * persisted src-partitioned; each step is ONE two-key equi-join of
    * the walks-sized state against it (the target rank/bucket is
    * computed map-side from the carried degree and cut, never by
    * scanning a node's out-list), so the composed plan is linear in
    * `steps` and the per-step traffic is walks-sized. The per-src
    * rank window partitions by src (keyed, never global). Runs in the
    * right-sized cloned loop session. */
  def randomWalks(edges: DataFrame, steps: Int, walksPerNode: Int = 1,
                  seed: String = "graft"): DataFrame = {
    require(steps >= 1, s"randomWalks needs steps >= 1, got $steps")
    require(walksPerNode >= 1,
      s"randomWalks needs walksPerNode >= 1, got $walksPerNode")
    import org.apache.spark.sql.expressions.Window
    // WEIGHTED edges (a `w` column, positive longs — enforced: a zero
    // weight would be an edge that exists but can never be taken) draw
    // the hop weight-proportionally: each out-edge owns the cumulative
    // interval [cw − w, cw) of [0, Σw), and the hop picks the edge whose
    // interval contains H mod Σw. The draw carries the node's weight sum
    // instead of its degree, and the lookup rides the cutpoint index
    // (see the scaladoc): an exact (src, bucket) equi-join with ≤ 2
    // expected candidate rows, then interval containment.
    val weighted = edges.columns.contains("w")
    val base = walkEdges(edges, "randomWalks")
    val wSrc = Window.partitionBy(col("src")).orderBy(col("dst"))
    // per-src totals share wSrc's partitioning and ordering (unbounded
    // frame) so all four ride ONE Window operator — a separate unordered
    // spec costs a second Sort+Window pass over the edge frame
    val wAll = wSrc.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val rk0 = base.select(col("src"), col("dst"),
      (sum(col("w")).over(wSrc) - col("w")).as("cw_lo"),
      sum(col("w")).over(wSrc).as("cw_hi"),
      sum(col("w")).over(wAll).as("wsum"),
      count(lit(1)).over(wAll).as("n_src"))
    // draw-mass AND cutpoint width of the DESTINATION ride each edge row
    // so the walk state always carries its current node's draw modulus
    // and bucket width (the next target is then map-side); null marks a
    // sink. Unweighted, cw_lo IS the edge's 0-based rank (unit widths),
    // so the hop stays an exact two-key equi-join with no expansion.
    // The column names are the graph index's, so both builders share
    // one walk sweep.
    val degs = base.groupBy(col("src").as("dst"))
      .agg(sum(col("w")).as("wsum_dst"), count(lit(1)).as("n_dst"))
      .select(col("dst"), col("wsum_dst"),
        expr("(wsum_dst + n_dst - 1) div n_dst").as("cut_dst"))
    LoopSession.onEdges(rk0.join(degs, Seq("dst"), "left")
        .select(col("src"), col("dst"), col("cw_lo"), col("cw_hi"),
          col("wsum"), expr("(wsum + n_src - 1) div n_src").as("cut"),
          col("wsum_dst"), col("cut_dst"))
        .repartition(col("src"))
        .sortWithinPartitions(col("src"), col("cw_lo")),
      rowsPerPartition = 100000L) { g =>
      val e = Bridge.rebind(g.frame, g.loop)
      val hop: DataFrame => DataFrame =
        if (!weighted)
          // unit widths: the drawn x IS the target cw_lo — O(1) match
          draw => e.join(draw.withColumnRenamed("x", "cw_lo").drop("cut"),
            Seq("src", "cw_lo"))
        else
          // Cutpoint expansion: one row per (edge, bucket its interval
          // intersects) — ≤ 2|E| rows — co-partitioned on the hop join
          // key. Unit weights never build it (cw_lo is already the rank).
          cutpointHop(g.persistMaterialized(
            e.withColumn("bkt", explode(expr(
                "sequence(cw_lo div cut, (cw_hi - 1) div cut)")))
              .repartition(col("src"), col("bkt"))
              .sortWithinPartitions(col("src"), col("bkt"))))
      walkSweep(g.caller, e.select(col("src").as("start"), col("wsum").as("deg"),
        col("cut")).distinct(), steps, walksPerNode, seed)(hop)
    }
  }

  /** The (src, dst, w) edges a walk draws from: w = 1 without a `w`
    * column, else the positive weights (checked: a zero/negative weight
    * has no draw interval), parallel edges combined into one interval. */
  private def walkEdges(edges: DataFrame, op: String): DataFrame =
    if (!edges.columns.contains("w"))
      edges.select(col("src").cast("long"), col("dst").cast("long"))
        .distinct().withColumn("w", lit(1L))
    else {
      val checked = assert_true(col("w") > 0L,
        lit(s"$op: edge weights must be positive " +
          "(a zero/negative weight has no draw interval)"))
      edges.select(col("src").cast("long"), col("dst").cast("long"),
          when(checked.isNull, col("w").cast("long")).as("w"))
        .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    }

  /** The walk sweep of both first-order builders ([[randomWalks]],
    * [[randomWalksFromIndex]]): `starts(start, deg, cut)` seeds
    * `walksPerNode` walks per start node, and each step draws x =
    * H(seed, start, walk, step) mod deg for every walk not at a sink;
    * `hop` maps the (start, wk, src, x, cut) draws to the taken edges,
    * whose (dst, wsum_dst, cut_dst) are the next state. */
  private def walkSweep(caller: SparkSession, starts: DataFrame, steps: Int,
                        walksPerNode: Int, seed: String)
                       (hop: DataFrame => DataFrame): DataFrame =
    LoopSession.sweep(caller,
      starts.withColumn("wk", explode(array((0 until walksPerNode)
          .map(i => lit(i.toLong)): _*)))
        .select(col("start"), col("wk"), col("start").as("node"), col("deg"),
          col("cut")),
      steps, LoopSession.Release.KeepAll, walkCorpus) { (_, state, i) =>
      val draw = state.filter(col("deg") > 0L)
        .select(col("start"), col("wk"), col("node").as("src"),
          pmod(walkDraw(seed, i + 1), col("deg")).as("x"), col("cut"))
      LoopSession.Sweep(hop(draw).select(col("start"), col("wk"),
        col("dst").as("node"), col("wsum_dst").as("deg"),
        col("cut_dst").as("cut")), LoopSession.materialize)
    }._1

  /** The cutpoint lookup over an expansion `eb(src, bkt, …)`: equi-join
    * on the drawn bucket, then match the (expected ≤ 2) candidate
    * intervals. */
  private def cutpointHop(eb: DataFrame)(draw: DataFrame): DataFrame =
    eb.join(draw.withColumn("bkt", expr("x div cut")).drop("cut"),
        Seq("src", "bkt"))
      .filter(col("x") >= col("cw_lo") && col("x") < col("cw_hi"))

  /** H(seed, start, walk, step) as a portable 60-bit integer (15 md5 hex
    * chars — the shared sampler width; a 32-bit draw would silently cap
    * weight-proportionality at Σw = 2³², ADVICE r15). The walk oracles
    * pin this exact expression. */
  private def walkDraw(seed: String, step: Int): Column =
    conv(substring(md5(concat_ws("-", lit(seed), col("start"), col("wk"),
      lit(step.toLong)).cast("binary")), 1, 15), 16, 10).cast("long")

  /** The walk corpus from every hop state (oldest first, hop i = step i):
    * each hop is KEPT until this union materializes — it references hop
    * i both directly and inside hop i+1's lineage, so released or lazy
    * states would re-execute the chain quadratically (measured ~2x wall
    * on the gate). */
  private def walkCorpus(hops: Seq[DataFrame]): DataFrame =
    hops.zipWithIndex.map { case (h, i) =>
      h.select(col("start"), col("wk"), lit(i.toLong).as("step"), col("node"))
    }.reduce(_ unionByName _)

  /** [[randomWalks]] over a [[buildGraphIndex]] table — identical draws
    * (the gate shares [[randomWalks]]'s oracle: layout changes the plan,
    * never a hop). The index already carries every per-node walk
    * parameter (draw intervals, cutpoint width, destination modulus), so
    * the per-call ranked-edge build disappears: each hop is the
    * (src, bucket) cutpoint equi-join of the walks-sized state against
    * the bucketed scan — the edge side reads exchange-free from disk
    * (never cached: the index IS the materialization; a nightly walk
    * corpus never re-shuffles or re-ranks the graph). Works for weighted
    * and unit-weight builds alike (unit widths make the expansion one
    * bucket per edge). Zero-weight edges own empty draw intervals and
    * are filtered from the expansion; a node whose out-weights are all
    * zero is a walk sink. */
  def randomWalksFromIndex(spark: SparkSession,
                           table: String, steps: Int, walksPerNode: Int = 1,
                           seed: String = "graft"): DataFrame = {
    require(steps >= 1, s"randomWalks needs steps >= 1, got $steps")
    require(walksPerNode >= 1,
      s"randomWalks needs walksPerNode >= 1, got $walksPerNode")
    // the hop equi-joins on (src, bkt) while the table is bucketed on
    // src alone; under the default requireAllClusterKeysForCoPartition
    // EnsureRequirements re-shuffles the EDGE side by both keys — the
    // subset-key co-partition (draw side shuffles by src, edge side
    // reads in place) needs the relaxed setting, scoped to a cloned
    // session so the caller's conf never mutates (measured: the default
    // inserts `Exchange hashpartitioning(src, bkt)` over the bucketed
    // scan; relaxed, the edge side carries no exchange)
    val walkSession = Bridge.sessionWithConf(
      spark, Map("spark.sql.requireAllClusterKeysForCoPartition" -> "false"))
    val idx = Bucketing.readBucketed(walkSession, table)
    // starts = the self rows with drawable out-mass — a filtered bucket
    // scan, not an explode+distinct shuffle
    walkSweep(spark, idx.filter(col("self") && col("wsum") > 0L)
        .select(col("src").as("start"), col("wsum").as("deg"), col("cut")),
      steps, walksPerNode, seed)(cutpointHop(indexWalkExpansion(idx)))
  }

  /** The cutpoint expansion of a [[buildGraphIndex]] scan — map-side
    * over the bucketed read (the src partitioning survives the explode),
    * so [[randomWalksFromIndex]]'s hop equi-join reads the edge side
    * exchange-free; only drawable edges (w > 0) expand. Plan-shape
    * audits read this frame directly. */
  private[graft] def indexWalkExpansion(idx: DataFrame): DataFrame =
    idx.filter(!col("self") && col("w") > 0L)
      .withColumn("bkt", explode(expr(
        "sequence(cw_lo div cut, (cw_hi - 1) div cut)")))
      .select(col("src"), col("bkt"), col("dst"), col("cw_lo"), col("cw_hi"),
        col("wsum_dst"), col("cut_dst"))

  /** Second-order (node2vec) biased walks — Grover & Leskovec 2016 made
    * deterministic: at each hop the walk at `node` with previous node
    * `prev` reweights every out-edge (node → x) by an INTEGER bias —
    * `biasReturn` when x = prev, `biasNeighbor` when (prev, x) is an
    * edge (distance 1 from prev), `biasFar` otherwise — and draws
    * proportional to bias·w with the shared 60-bit content hash over the
    * per-walk cumulative intervals. Integer biases are the rational
    * (p, q) parameterization cleared of denominators: (1/p : 1 : 1/q)
    * scaled by lcm — e.g. p = 2, q = 1/2 is (1, 2, 4) — so every draw
    * modulus is exact and any engine replays the corpus bit-for-bit.
    * Hop 1 initializes prev = start, whose out-edges are all distance 1
    * (the graph has no self-loops), so the first hop degenerates to the
    * plain weight-proportional draw — one uniform code path.
    *
    * Scale shape: the (prev, node) context makes the draw distribution a
    * function of the PAIR, so no per-node CDF or index can serve it —
    * each step honestly joins the walks against their nodes' out-lists
    * (Σ outdeg(cur) work per step, windows keyed per walk) plus one
    * (prev, dst) membership probe of the edge frame. That is the
    * inherent cost of second-order walks; the reference alternative
    * (per-EDGE alias tables) precomputes Σ_edges outdeg(dst) state,
    * which explodes on hub graphs. Per-hop state is persisted (the
    * [[randomWalks]] union-re-execution lesson). */
  def node2vecWalks(edges: DataFrame, steps: Int, walksPerNode: Int = 1,
                    biasReturn: Long = 1L, biasNeighbor: Long = 1L,
                    biasFar: Long = 1L, seed: String = "graft"): DataFrame = {
    require(steps >= 1, s"node2vecWalks needs steps >= 1, got $steps")
    require(walksPerNode >= 1,
      s"node2vecWalks needs walksPerNode >= 1, got $walksPerNode")
    require(biasReturn >= 1L && biasNeighbor >= 1L && biasFar >= 1L,
      "node2vecWalks biases must be positive integers (clear the " +
        "rational (p, q) of denominators)")
    import org.apache.spark.sql.expressions.Window
    // Unlike the first-order walks, the per-step traffic here is
    // Σ outdeg(cur) — CORPUS-sized, not walks-sized — so the loop keeps
    // whole-stage and expression codegen ON (codegenCutoff = 0: the r16
    // shard bench read the interpreted out-list windows as the dominant
    // cost) and sizes its width to the edge frame like HITS.
    LoopSession.onEdges(walkEdges(edges, "node2vecWalks").repartition(col("src"))
        .sortWithinPartitions(col("src")),
      rowsPerPartition = 100000L, codegenCutoff = 0L) { g =>
      val e = Bridge.rebind(g.frame, g.loop)
      // the (prev, dst) membership side is STEP-INVARIANT: shape and
      // hash-partition it once on the probe keys, so each step's bias
      // left-join reads this side exchange-free and only the candidate
      // stream shuffles to match (guide §2.4 applied to the one edge-sized
      // join the steps repeat)
      val nb = g.persistMaterialized(
        e.select(col("src").as("prev"), col("dst"), lit(1L).as("isn"))
          .repartition(col("prev"), col("dst"))
          .sortWithinPartitions(col("prev"), col("dst")))
      LoopSession.sweep(g.caller,
        e.select(col("src").as("start")).distinct()
          .withColumn("wk", explode(array((0 until walksPerNode)
            .map(i => lit(i.toLong)): _*)))
          .select(col("start"), col("wk"), col("start").as("prev"),
            col("start").as("node")),
        steps, LoopSession.Release.KeepAll, walkCorpus) { (_, state, i) =>
        // the walk's out-list with the second-order bias applied: return
        // beats neighbor beats far (dst = prev is never an edge of
        // (prev, dst) since the graph has no self-loops). The 60-bit draw
        // hash is computed HERE, on the walks-sized state — one md5 per
        // walk per step, carried through the join — not on the
        // Σ outdeg(cur)-sized candidate stream (the r16 shard bench read
        // the per-candidate md5/conv pair as a top cost).
        val st = state.withColumn("hh", walkDraw(seed, i + 1))
        val cand = st.join(e, st("node") === e("src"))
          .select(col("start"), col("wk"), col("prev"), col("node"),
            col("hh"), col("dst"), col("w"))
          .join(nb, Seq("prev", "dst"), "left")
          .select(col("start"), col("wk"), col("node"), col("hh"),
            col("dst"),
            (when(col("dst") === col("prev"), lit(biasReturn))
              .when(col("isn").isNotNull, lit(biasNeighbor))
              .otherwise(lit(biasFar)) * col("w")).as("aw"))
        val wWalk = Window.partitionBy(col("start"), col("wk"))
          .orderBy(col("dst"))
        // the partition total shares wWalk's partitioning AND ordering (an
        // unbounded frame over the same sorted run), so Catalyst plans ONE
        // Window operator — a separate unordered spec costs a second
        // Sort+Window pass over the corpus-sized candidate stream per step
        // (VERDICT r16 #5). Sums are longs: frame-order exact.
        val wTot = wWalk.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        val cum = cand.select(col("start"), col("wk"), col("node"),
          col("hh"), col("dst"),
          (sum(col("aw")).over(wWalk) - col("aw")).as("lo"),
          sum(col("aw")).over(wWalk).as("hi"),
          sum(col("aw")).over(wTot).as("tot"))
        val hop = cum.withColumn("x", pmod(col("hh"), col("tot")))
          .filter(col("x") >= col("lo") && col("x") < col("hi"))
        LoopSession.Sweep(hop.select(col("start"), col("wk"),
          col("node").as("prev"), col("dst").as("node")),
          LoopSession.materialize)
      }._1
    }
  }

  /** One synchronous Louvain refinement step (Blondel et al. 2008, the
    * local-move phase, made deterministic): every node simultaneously
    * evaluates moving to each NEIGHBOR community and takes the move with
    * the largest modularity gain if positive — ties to the smaller
    * community label — else stays. Turns [[modularity]]'s score into an
    * optimizer over [[labelPropagation]]'s (or any) labeling.
    *
    * EXACT integer gain over the common denominator 4m² (the modularity
    * q_num discipline — one labeling both engines replay bit-for-bit):
    * moving v from c to d changes Q·4m² by
    *   Δnum(v: c→d) = 4m·(e_{v,d} − e_{v,c∖v}) − 2k_v·(d_d − d_c) − 2k_v²
    * with m = |edges|, e_{v,x} = v's edges into community x, k_v = v's
    * degree, d_x = community x's degree sum (d_c INCLUDING v, d_d
    * excluding — v ∉ d). |Δnum| ≤ 4m², so the same m < 1.5·10⁹ bound as
    * [[modularity]] keeps every term in a long — ENFORCED on the 1-row
    * count. Classic Louvain iterates asynchronous moves with arbitrary
    * order; one synchronous pass is order-free (a pure function of the
    * labeling) at the cost of possible pairwise swaps on degenerate
    * ties — callers alternating steps with re-scoring get monotone Q in
    * practice (spec-pinned on the bridged-cliques fixture), and an ideal
    * partition is a FIXPOINT (every gain ≤ 0; spec-pinned).
    *
    * Input: canonical distinct edges `(a, b)`, a < b (no self-loops) and
    * `labels(id, community)`; unlabeled endpoints drop (inner joins, the
    * modularity contract). Returns (id, community) for every labeled
    * node in the edge list. Scale shape: the (node, nbr-community) count
    * is the one corpus-sized aggregation; everything else is keyed
    * nodes-sized joins plus the broadcast 1-row m — no windows, nothing
    * collected. */
  def louvainStep(edges: DataFrame, labels: DataFrame): DataFrame =
    louvainStepWeighted(
      edges.select(col("a").cast("long"), col("b").cast("long"),
        lit(1L).as("w")),
      labels)

  /** [[louvainStep]] over a WEIGHTED multigraph `(a, b, w)` with a ≤ b —
    * the form [[louvain]]'s contracted levels take: an intra-community
    * edge bundle becomes a self-loop (a = b) whose weight counts twice
    * in its node's degree (the standard A_vv = 2w convention, so Σdeg =
    * 2m holds at every level) but never appears as a move candidate
    * (e_{v,x} sums over u ≠ v; a self-loop stays internal to whichever
    * community v joins, so it cancels in every Δ). Same exact integer
    * gain algebra over the common denominator 4m² with m = Σw — the
    * contraction preserves m, so the [[modularity]] m < 1.5·10⁹ bound
    * holds once for the whole level loop (ENFORCED per step). */
  def louvainStepWeighted(edges: DataFrame, labels: DataFrame): DataFrame =
    LoopSession.onEdges(edges.select(col("a").cast("long"), col("b").cast("long"),
      col("w").cast("long")))(louvainSweeps(_, labels, sweeps = 1))

  /** `sweeps` synchronous [[louvainStepWeighted]] moves over the ONE
    * persisted edge frame of `g`, with the level-invariant pieces — the loop
    * session, the m scalar check, the weighted degree frame and the
    * (node, nbr, w) adjacency — built ONCE and shared by every sweep
    * (the r17 q_louvain profile showed each step call rebuilding all
    * three plus re-persisting the already-cached edges). Only the
    * label-dependent joins run per sweep. Returns the final labels as
    * the [[LoopSession.sweep]] hand-back; `labels0` is never unpersisted
    * here.
    *
    * The step is a fixed pipeline of keyed joins/aggs whose frames are
    * nodes-or-edges-sized — the same profile as the sweep loops, so it
    * runs in the shared right-sized cloned session (AQE's per-exchange
    * materialize-and-replan and per-join codegen dominate small graphs;
    * at cluster scale loopParts keeps the caller's width). rebind, not
    * truncate: the shared CacheManager serves the persists inside. */
  private def louvainSweeps(g: LoopSession.Edges, labels0: DataFrame,
                            sweeps: Int): DataFrame = {
    val e0 = Bridge.rebind(g.frame, g.loop)
    val m = e0.agg(sum(col("w")).as("m"))
      .select(assert_true(col("m") < 1500000000L,
          lit("louvainStep: 4*m^2 must fit a long — m < 1.5e9")).as("__ck"),
        col("m"))
      .filter(col("__ck").isNull).drop("__ck")
    // (id, deg) feeds every sweep's community degree sums AND decision
    // frame; the endpoint explode gives a self-loop its 2w degree
    // contribution for free (both sides land on a). Label-independent —
    // persisted only when >1 sweep reads it (a single sweep composes it
    // into degL exactly as the one-step path always did; an extra
    // materialization job there was a measured one-shot regression).
    val degWPlan = e0.select(explode(array(
        struct(col("a").as("id"), col("w")),
        struct(col("b").as("id"), col("w")))).as("e"))
      .select(col("e.id").as("id"), col("e.w").as("w"))
      .groupBy(col("id")).agg(sum(col("w")).as("deg"))
    val degW = if (sweeps > 1) g.persistMaterialized(degWPlan) else degWPlan
    // v's edge mass rides (node, nbr, w) rows; self-loops are excluded
    // (u ≠ v). Label-independent; persisted only when >1 sweep reads it
    // (a single sweep composes it into evd exactly as before).
    val adjPlan = e0.filter(col("a") =!= col("b")).select(explode(array(
        struct(col("a").as("node"), col("b").as("nbr"), col("w")),
        struct(col("b").as("node"), col("a").as("nbr"), col("w")))).as("e"))
      .select(col("e.node").as("node"), col("e.nbr").as("nbr"),
        col("e.w").as("w"))
    val adj = if (sweeps > 1) g.persistMaterialized(adjPlan) else adjPlan
    // each sweep references its label frame twice (degree join + mass
    // join) — the loop persists the incoming frame, so a lazy caller
    // plan can't execute twice
    val out = LoopSession.sweep(g.caller, Bridge.rebind(
      labels0.select(col("id").cast("long"), col("community").cast("long")),
      g.loop), sweeps) { (scratch, lab, _) =>
      // per-sweep: the label-dependent joins only
      // both per-sweep caches persist lazily: the signal fills them
      val degL = scratch.persist(degW.join(lab, "id"))
      val dc = degL.groupBy(col("community"))
        .agg(sum(col("deg")).as("dsum"))
      // the one corpus-sized aggregation; referenced twice (own-community
      // lookup + move candidates), hence persisted
      val evd = scratch.persist(
        adj.join(lab.select(col("id").as("nbr"), col("community").as("d")),
            "nbr")
          .groupBy(col("node").as("id"), col("d"))
          .agg(sum(col("w")).as("ec")))
      val base = degL
        .join(dc, "community")
        .join(evd.select(col("id"), col("d"), col("ec").as("evc")),
          degL("id") === evd("id") && col("d") === degL("community"),
          "left")
        .select(degL("id").as("id"), col("deg"),
          col("community").as("c"), col("dsum").as("dcur"),
          coalesce(col("evc"), lit(0L)).as("evc"))
      val cand = base
        .join(evd.select(col("id"), col("d"), col("ec")), Seq("id"))
        .filter(col("d") =!= col("c"))
        .join(dc.select(col("community").as("d"), col("dsum").as("dnew")),
          "d")
        .crossJoin(broadcast(m))
        .select(col("id"), col("d"),
          (lit(4L) * col("m") * (col("ec") - col("evc")) -
            lit(2L) * col("deg") * (col("dnew") - col("dcur")) -
            lit(2L) * col("deg") * col("deg")).as("dnum"))
      val best = cand.groupBy(col("id"))
        .agg(min(struct((-col("dnum")).as("nd"), col("d"))).as("b"))
        .select(col("id"), col("b.nd").as("nd"), col("b.d").as("bd"))
      LoopSession.Sweep(base.join(best, Seq("id"), "left")
        .select(col("id"),
          when(col("nd").isNotNull && col("nd") < 0L, col("bd"))
            .otherwise(col("c")).as("community")), LoopSession.materialize)
    }._1
    // the next level never reads this one's degree and adjacency caches
    if (sweeps > 1) Seq(degW, adj).foreach(g.release)
    out
  }

  /** Multi-level Louvain (Blondel et al. 2008, both phases): from
    * singletons, run `sweeps` synchronous [[louvainStepWeighted]] moves,
    * CONTRACT each community into a super-node (inter-community bundles
    * keep their summed weight; intra-community mass becomes self-loops,
    * preserving m and every node's share of 2m), and repeat on the
    * contracted graph for `levels` levels. Returns the composed
    * (id, community) for every node of the input graph; community ids
    * are original node ids (each level's labels are node ids of that
    * level's graph, which are communities of the previous level).
    *
    * Fixed levels × fixed sweeps — the fixed-sweep ≡ fixpoint
    * discipline: a level whose moves all stall contracts to an identical
    * graph and every later level is a no-op, so an over-budgeted call is
    * exact, and the whole run unrolls under a SQL oracle. Q is
    * non-decreasing per level in practice (spec-pinned; the synchronous
    * move's degenerate-tie swaps are the only exception, as documented
    * on [[louvainStep]]).
    *
    * Scale shape: per level, one corpus-sized (node, nbr-community)
    * aggregation per sweep plus ONE keyed contraction agg; the mapping
    * composition is a nodes-sized join per level. Level boundaries
    * persist AND truncate (the SCC analyzer lesson: a level references
    * its labels twice — both contraction endpoints — so composed plans
    * would grow 2^levels). */
  def louvain(edges: DataFrame, levels: Int = 2, sweeps: Int = 2): DataFrame = {
    require(levels >= 1, s"louvain needs levels >= 1, got $levels")
    require(sweeps >= 1, s"louvain needs sweeps >= 1, got $sweeps")
    // level `lvl` over its graph `g` from the singleton labeling `lab0`;
    // `mapping` is the composed original-id → current-community frame
    def level(g: LoopSession.Edges, lab0: DataFrame, mapping: DataFrame,
              lvl: Int): DataFrame = {
      // all `sweeps` moves share one edge persist + level-invariant
      // degree/adjacency frames (louvainSweeps; the r16 shape re-built
      // them per sweep)
      val labT = Bridge.truncatePlan(
        g.hold(louvainSweeps(g, Bridge.truncatePlan(lab0), sweeps)))
      def composed(h: CacheOps.Scratch): DataFrame = h.persistMaterialized(
        Bridge.truncatePlan(mapping).join(
            labT.select(col("community").as("next"), col("id").as("community")),
            "community")
          .select(col("id"), col("next").as("community")))
      // the final level's composed mapping is the RESULT, which its holder
      // keeps; the caller owns its release. Phase 2 — contract communities
      // into super-nodes, and derive the next level's singleton labeling —
      // is skipped on the final level, whose only consumer is the composed
      // mapping (the r16 shape built a dead final contraction)
      if (lvl == levels) composed(g)
      else LoopSession.onEdges({
        val la = labT.select(col("id").as("a"), col("community").as("ca"))
        val lb = labT.select(col("id").as("b"), col("community").as("cb"))
        g.frame.join(la, "a").join(lb, "b")
          .select(least(col("ca"), col("cb")).as("a"),
            greatest(col("ca"), col("cb")).as("b"), col("w"))
          .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
      }) { next =>
        // the next level's singleton labeling is the image of this level's
        // communities, nodes-sized (nodes of the contracted graph =
        // communities — every node carries an edge, possibly a self-loop);
        // the r16 shape paid an edges-sized explode+distinct over the
        // contracted graph
        val nextLab0 = next.persistMaterialized(
          labT.select(col("community")).distinct()
            .select(col("community").as("id"), col("community")))
        level(next, nextLab0, composed(next), lvl + 1)
      }
    }
    LoopSession.onEdges(edges.select(col("a").cast("long"), col("b").cast("long"))
        .withColumn("w", lit(1L))) { g =>
      // level 1's singleton labeling IS the identity mapping
      val identity = g.persistMaterialized(
        g.frame.select(explode(array(col("a"), col("b"))).as("id")).distinct()
          .select(col("id"), col("id").as("community")))
      level(g, identity, identity, 1)
    }
  }
}
