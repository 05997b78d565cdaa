package graft

import graft.operators.{Dedup, Graph, LoopSession}
import graft.pipeline.{Pipeline, QueryMetricsListener}
import graft.queries.DataOps
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, RepartitionByExpression}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** The sweep-loop contract: a loop that fails part-way releases every
  * cache it holds, a loop that finishes leaves only its hand-back, and a
  * small-graph loop session interprets instead of compiling. */
class LoopSessionSpec extends SparkSpec {
  import spark.implicits._

  /** A loop whose step persists scratch and throws at sweep 2. */
  private def failingLoop(policy: LoopSession.Release): Unit =
    LoopSession.sweep(spark, spark.range(20).toDF("id"), 5, policy,
      finish = _.reduce(_ unionByName _)) { (scratch, state, i) =>
      scratch.persistMaterialized(state.select((col("id") * 2).as("id")))
      if (i == 1) throw new IllegalStateException("sweep 2 fails")
      LoopSession.Sweep(state.select((col("id") + 1).as("id")),
        LoopSession.materialize)
    }

  Seq(LoopSession.Release.Predecessor, LoopSession.Release.KeepAll)
    .foreach { policy =>
      test(s"a step throwing at sweep 2 releases every cache ($policy)") {
        clearCaches()
        val err = intercept[IllegalStateException](failingLoop(policy))
        assert(err.getMessage == "sweep 2 fails")
        assertNoCaches(s"failed $policy loop")
      }
    }

  test("a finished loop leaves only its hand-back, released by the caller") {
    clearCaches()
    val stable = LoopSession.repeats(_.agg(sum(col("id"))).head().getLong(0))
    // ids 0..9 climb by one per sweep to a cap of 12: all capped after 12
    // sweeps, and the 13th observes the repeat
    val (out, n) = LoopSession.sweep(spark, spark.range(10).toDF("id"), 20) {
      (scratch, state, _) =>
        scratch.persistMaterialized(state)
        LoopSession.Sweep(state.select(least(col("id") + 1, lit(12L)).as("id")),
          stable)
    }
    assert(n == 13)
    assert(out.agg(min(col("id"))).head().getLong(0) == 12L)
    assert(spark.sparkContext.getPersistentRDDs.size == 1)
    out.unpersist(blocking = true)
    assertNoCaches("released hand-back")
  }

  test("hits failing its overflow check mid-iteration leaves no cache") {
    clearCaches()
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    // the first half-iteration persists its partial, then the rescale
    // guard rejects max * scale
    val err = intercept[IllegalArgumentException](
      Graph.hits(edges, iterations = 2, scale = 4000000000L))
    assert(err.getMessage.contains("would overflow"))
    assertNoCaches("failed hits")
  }

  test("representatives over a pair frame that throws leaves no cache") {
    clearCaches()
    // a Range scan, so the assertion fires when the pairs execute (a
    // local Seq would be constant-folded during planning instead)
    val pairs = spark.range(1, 4).select(col("id").as("a"), (col("id") + 1).as("b"))
      .select(when(assert_true(col("a") > col("b")).isNull, col("a")).as("a"),
        col("b"))
    intercept[Exception](Dedup.representatives(pairs).collect())
    assertNoCaches("failed representatives")
  }

  /** A Range-backed frame with columns `cols` whose rows fail an
    * assertion when they execute (a local Seq would be constant-folded
    * during planning instead). */
  private def throwing(cols: String*): DataFrame =
    spark.range(1, 4).select(cols.map(c =>
      when(assert_true(col("id") < 0L, lit("input fails")).isNull, col("id")).as(c)): _*)

  private lazy val directed =
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 4L)).toDF("src", "dst")
  private lazy val weighted = directed.withColumn("w", col("src") + 1L)
  // two triangles joined by the bridge 3-4, canonical a < b
  private lazy val undirected =
    Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L)).toDF("a", "b")
  private lazy val labels =
    Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 4L)).toDF("id", "community")
  private lazy val seeds = Seq(1L).toDF("id")

  /** Every operator that persists an edge frame: its call on good inputs,
    * and its call on an input that throws — the second input where it has
    * one, so the failure lands after the edge cache exists. */
  private val operators: Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
    ("pageRank", () => Graph.pageRank(directed),
      () => Graph.pageRank(throwing("src", "dst"))),
    ("pageRankPersonalized", () => Graph.pageRankPersonalized(directed, seeds),
      () => Graph.pageRankPersonalized(directed, throwing("id"))),
    ("pageRankWeighted", () => Graph.pageRankWeighted(weighted),
      () => Graph.pageRankWeighted(throwing("src", "dst", "w"))),
    ("kCore", () => Graph.kCore(undirected, 2),
      () => Graph.kCore(throwing("a", "b"), 2)),
    ("hits", () => Graph.hits(directed), () => Graph.hits(throwing("src", "dst"))),
    ("labelPropagation", () => Graph.labelPropagation(undirected),
      () => Graph.labelPropagation(throwing("a", "b"))),
    ("shortestPaths", () => Graph.shortestPaths(directed, seeds),
      () => Graph.shortestPaths(directed, throwing("id"))),
    ("shortestPaths to fixpoint",
      () => Graph.shortestPaths(directed, seeds, runToFixpoint = true),
      () => Graph.shortestPaths(directed, throwing("id"), runToFixpoint = true)),
    ("stronglyConnectedComponents", () => Graph.stronglyConnectedComponents(directed),
      () => Graph.stronglyConnectedComponents(throwing("src", "dst"))),
    ("modularity", () => Graph.modularity(undirected, labels),
      () => Graph.modularity(undirected, throwing("id", "community"))),
    ("triangleCounts", () => Graph.triangleCounts(undirected),
      () => Graph.triangleCounts(throwing("a", "b"))),
    ("clusteringCoefficients", () => Graph.clusteringCoefficients(undirected),
      () => Graph.clusteringCoefficients(throwing("a", "b"))),
    ("assortativity", () => Graph.assortativity(undirected),
      () => Graph.assortativity(throwing("a", "b"))),
    ("randomWalks", () => Graph.randomWalks(directed, steps = 3),
      () => Graph.randomWalks(throwing("src", "dst"), steps = 3)),
    ("randomWalks weighted", () => Graph.randomWalks(weighted, steps = 3),
      () => Graph.randomWalks(throwing("src", "dst", "w"), steps = 3)),
    ("node2vecWalks", () => Graph.node2vecWalks(directed, steps = 3),
      () => Graph.node2vecWalks(throwing("src", "dst"), steps = 3)),
    ("louvainStep", () => Graph.louvainStep(undirected, labels),
      () => Graph.louvainStep(undirected, throwing("id", "community"))),
    ("louvain", () => Graph.louvain(undirected), () => Graph.louvain(throwing("a", "b"))),
    ("representatives", () => Dedup.representatives(undirected),
      () => Dedup.representatives(throwing("a", "b"))))

  test("every edge-frame operator leaves only its result cache, and none when an input throws") {
    operators.foreach { case (name, ok, failing) =>
      clearCaches()
      val out = ok()
      assert(out.storageLevel.useMemory, s"$name returned an uncached result")
      assert(spark.sparkContext.getPersistentRDDs.size == 1,
        s"$name left ${spark.sparkContext.getPersistentRDDs.size} persisted RDDs")
      out.unpersist(blocking = true)
      assertNoCaches(s"released $name result")
      val err = intercept[Exception](failing())
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("input fails")),
        s"$name failed for another reason: $err")
      assertNoCaches(s"failed $name")
    }
  }

  /** The message chain of `t` names `what`. */
  private def causedBy(t: Throwable, what: String): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains(what))

  /** A clone of the test session whose optimizer rejects label
    * propagation's adjacency plan (its repartition on `nbr`), so the
    * labels step throws once the caller's edge cache exists. */
  private def labelsFail: SparkSession = {
    val s = Bridge.sessionWithConf(spark, Map.empty)
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
      .extraOptimizations = Seq(new Rule[LogicalPlan] {
        def apply(plan: LogicalPlan): LogicalPlan = {
          plan.foreach {
            case r: RepartitionByExpression
                if r.partitionExpressions.exists(_.references.exists(_.name == "nbr")) =>
              throw new IllegalStateException("labels fail")
            case _ => ()
          }
          plan
        }
      })
    s
  }

  test("a modularity or louvain-step site whose labels step throws leaves no cache") {
    val src = java.nio.file.Files.createTempDirectory("graft-mod").toString + "/edges.parquet"
    undirected.toDF("src", "dst").write.parquet(src)
    Seq[(String, SparkSession => Any)](
      ("modularity step", s => Pipeline.run(s,
        s"""[{"type":"reader","connector":{"type":"local","path":"$src"},
           |  "document":{"type":"parquet"}},
           | {"type":"modularity","src":"src","dst":"dst","sweeps":4}]""".stripMargin)),
      ("q_modularity", s => DataOps.qModularity(s, sf)),
      ("q_louvain_step", s => DataOps.qLouvainStep(s, sf))).foreach { case (site, run) =>
      clearCaches()
      val err = intercept[Exception](run(labelsFail))
      assert(causedBy(err, "labels fail"), s"$site failed for another reason: $err")
      assertNoCaches(s"failed $site")
    }
  }

  /** Cancels, as it starts, the `n`-th job that runs outside any SQL
    * execution (a raw-RDD signal or fill). */
  private final class CancelRddJob(n: Int) extends SparkListener {
    private var seen = 0
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).forall(_.getProperty("spark.sql.execution.id") == null)) {
        seen += 1
        if (seen == n) spark.sparkContext.cancelJob(e.jobId, "sweep 2's signal fails")
      }
  }

  test("scc whose signal fails in its second sweep, over lazy scratch caches, leaves no cache") {
    clearCaches()
    // sweep 1 trims, sweep 2 colors: its signal is the job that would
    // fill the lazily persisted ae/fp/ce/marks caches
    val cancel = new CancelRddJob(2)
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(cancel)
    val err =
      try intercept[Exception](Graph.stronglyConnectedComponents(directed, rounds = 3,
        sweeps = 4, trimPasses = 1))
      finally {
        Bridge.drainListenerBus(spark)
        spark.sparkContext.removeSparkListener(cancel)
      }
    assert(causedBy(err, "sweep 2's signal fails"), s"scc failed for another reason: $err")
    assertNoCaches("failed scc")
  }

  test("every *FromIndex loop leaves only its result cache, and none when the index throws") {
    // forward rows run even -> odd, so the symmetrized build's reverse
    // rows are the ones with an odd src
    val fwd = directed.select((col("src") * 2L).as("src"), (col("dst") * 2L + 1L).as("dst"))
    withGraphIndex(fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst"))),
      "loop_idx_spec", buckets = 2) {
      try {
        // the same rows, but reading a real row's dst throws (self rows
        // pass, so the node frame persists before the failure)
        spark.read.table("loop_idx_spec").withColumn("dst",
            when(col("self"), col("dst"))
              .when(assert_true(col("dst") < 0L, lit("input fails")).isNull, col("dst")))
          .createOrReplaceTempView("loop_idx_spec_bad")
        val forward = col("src") % 2L === 0L
        Seq[(String, String => DataFrame)](
          ("pageRankFromIndex", t => Graph.pageRankFromIndex(spark, t)),
          ("hitsFromIndex", t => Graph.hitsFromIndex(spark, t, forward)),
          ("randomWalksFromIndex", t => Graph.randomWalksFromIndex(spark, t, steps = 3)))
          .foreach { case (name, run) =>
            clearCaches()
            val out = run("loop_idx_spec")
            assert(out.storageLevel.useMemory, s"$name returned an uncached result")
            assert(spark.sparkContext.getPersistentRDDs.size == 1,
              s"$name left ${spark.sparkContext.getPersistentRDDs.size} persisted RDDs")
            out.unpersist(blocking = true)
            assertNoCaches(s"released $name result")
            val err = intercept[Exception](run("loop_idx_spec_bad"))
            assert(causedBy(err, "input fails"), s"$name failed for another reason: $err")
            assertNoCaches(s"failed $name")
          }
      } finally spark.sql("DROP VIEW IF EXISTS loop_idx_spec_bad")
    }
  }

  /** The jobs an edge-frame operator runs after its edge persist (the
    * operator's only SQL execution), and the SQL executions it opens. */
  private def jobsAfterEdgePersist(run: => DataFrame)
      : (Seq[QueryMetricsListener.JobRecord], Long) = {
    val (out, l) = QueryMetricsListener.during(spark)(run)
    out.unpersist(blocking = true)
    (l.jobs.dropWhile(_.sqlDesc.nonEmpty), l.sqlExecutionsStarted.sum())
  }

  test("a sweep runs one job, its signal, and opens no SQL execution") {
    // OperatorsSpec's SCC fixture: two cycles joined by a tail
    val twoCycles = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 5L), (7L, 1L)).toDF("src", "dst")
    Seq(
      // rounds {1,2,3,7}, {4}, {5,6}: three coloring sweeps
      ("scc", () => Graph.stronglyConnectedComponents(twoCycles, rounds = 3, sweeps = 4), 3),
      // trim {7}, color {1,2,3}, trim {4}, color {5,6}: then nothing is active
      ("scc with trim", () => Graph.stronglyConnectedComponents(twoCycles, rounds = 3,
        sweeps = 4, trimPasses = 1), 4)).foreach { case (what, run, sweeps) =>
      val (jobs, sqls) = jobsAfterEdgePersist(run())
      // one signal per sweep, then the hand-back's fill
      assert(jobs.size == sweeps + 1, s"$what ran ${jobs.size} jobs for $sweeps sweeps")
      assert(jobs.forall(_.sqlDesc.isEmpty) && sqls == 1L,
        s"$what opened ${sqls - 1} SQL executions after its edge persist")
    }
    // a fixed-sweep materialize loop whose final state is the hand-back
    val (jobs, sqls) = jobsAfterEdgePersist(Graph.labelPropagation(undirected, sweeps = 4))
    assert(jobs.size == 4, s"labelPropagation ran ${jobs.size} jobs for 4 sweeps")
    assert(jobs.forall(_.sqlDesc.isEmpty) && sqls == 1L,
      s"labelPropagation opened ${sqls - 1} SQL executions after its edge persist")
    // a fixed-sweep hits loop: each sweep's two per-half max folds, then
    // its signal (iterations 3 against 1: two sweeps more)
    val Seq((hits1, hitsSqls1), (hits3, hitsSqls3)) =
      Seq(1, 3).map(n => jobsAfterEdgePersist(Graph.hits(directed, iterations = n)))
    assert(hits3.size - hits1.size == 2 * 3,
      s"hits ran ${hits3.size - hits1.size} jobs for 2 more sweeps")
    assert(hits3.forall(_.sqlDesc.isEmpty) && hitsSqls3 == hitsSqls1,
      s"hits opened ${hitsSqls3 - hitsSqls1} SQL executions in 2 more sweeps")
  }

  /** Janino compiles so far in this JVM. */
  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Janino compiles while `run` executes, the fewest of three tries: a
    * concurrent query's compile (a thread an earlier suite left running)
    * can land in one window, a compile `run` causes lands in all three. */
  private def fewestCompiles(run: => Unit): Long =
    (1 to 3).map { _ => val before = compiles(); run; compiles() - before }.min

  /** A projection no earlier query generated: a fresh literal `k` makes
    * its generated class a miss in Spark's compile cache. It runs below a
    * shuffle, in a map stage: the stage a raw-RDD action would leave
    * without the session's confs. */
  private def freshProjection(s: SparkSession, k: Long = System.nanoTime()): DataFrame =
    s.range(100).select((col("id") + lit(k)).as("x")).repartition(2, col("x"))

  /** Run the projection as a Dataset action (the noop sink executes
    * every row and deserializes nothing on the driver). */
  private def runAction(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("the small-graph loop session generates no expression code") {
    val loop = LoopSession.forGraph(spark, 1000L)
    assert(fewestCompiles(runAction(freshProjection(loop))) == 0,
      "a Dataset action in the loop session compiled")
    // a raw-RDD fold is an action outside any SQL execution: it must
    // still run under the loop session's confs
    assert(fewestCompiles {
      val k = System.nanoTime()
      val sum = Bridge.onRdd(freshProjection(loop, k))(_.map(_.getLong(0)).fold(0L)(_ + _))
      assert(sum == 100L * k + 4950L)
    } == 0, "a raw-RDD fold over a loop frame compiled")
  }

  test("the caller session, a 1M-edge and a codegenCutoff = 0 loop session compile") {
    Seq("caller" -> spark,
      "1M-edge loop" -> LoopSession.forGraph(spark, 1000000L),
      "codegenCutoff = 0" -> LoopSession.forGraph(spark, 1000L, codegenCutoff = 0L))
      .foreach { case (what, s) =>
        val before = compiles()
        runAction(freshProjection(s))
        assert(compiles() > before, s"the $what session compiled nothing")
      }
  }
}
