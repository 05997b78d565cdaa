package graft

import org.apache.spark.sql.SparkSession

/** What every harness main shares, so neither can drift between them: its
  * session, and the "ballast drop" — every timing and correctness sweep
  * reads the PLAN with cold caches, not the JVM's heap history (operators
  * that materialize their results would otherwise make repeat runs cache
  * hits and later queries GC-pressure measurements). */
object BenchUtil {
  /** Cores for a harness main's `local[n]` master and shuffle width:
    * SPARK_GRAFT_CPUS, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The shipped config (`GraftSession.builder`) at `cpus` cores, UI off,
    * WARN logs, after one untimed warm-up query (a fresh JVM's first action
    * pays seconds of Spark bootstrap unrelated to any gate). */
  def session(): SparkSession = {
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    spark
  }

  def dropBallast(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }
}
