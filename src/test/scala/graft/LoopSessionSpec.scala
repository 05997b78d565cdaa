package graft

import graft.operators.{Dedup, Graph, LoopSession}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** The sweep-loop contract: a loop that fails part-way releases every
  * cache it holds, a loop that finishes leaves only its hand-back, and a
  * small-graph loop session interprets instead of compiling. */
class LoopSessionSpec extends SparkSpec {
  import spark.implicits._

  private def clearCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  private def assertNoCaches(what: String): Unit = {
    val rdds = spark.sparkContext.getPersistentRDDs
    assert(rdds.isEmpty, s"$what left ${rdds.size} persisted RDDs")
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    assert(cm.isEmpty, s"$what left CacheManager entries")
  }

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
