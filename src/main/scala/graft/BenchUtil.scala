package graft

/** The one definition of the bench/verify "ballast drop": every timing
  * and correctness sweep must read the PLAN with cold caches, not the
  * JVM's heap history — operators that materialize their results would
  * otherwise make repeat runs cache hits and later queries GC-pressure
  * measurements. Shared so the discipline can't drift between Bench,
  * BenchOne, ScaleBench, Verify, and the plan audits. */
object BenchUtil {
  /** Cores for a harness main's `local[n]` master and shuffle width:
    * SPARK_GRAFT_CPUS, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def dropBallast(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }
}
