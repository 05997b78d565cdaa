package graft

import graft.operators.{Dedup, Graph, LoopSession}
import org.apache.spark.sql.functions._

/** The sweep-loop contract: a loop that fails part-way releases every
  * cache it holds, and a loop that finishes leaves only its hand-back. */
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
}
