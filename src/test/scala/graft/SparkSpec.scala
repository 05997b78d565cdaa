package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM-wide session, local[4]). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** Drop every cached relation and persisted RDD of the session. */
  def clearCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  /** No persisted RDD and no CacheManager entry is left after `what`. */
  def assertNoCaches(what: String): Unit = {
    val rdds = spark.sparkContext.getPersistentRDDs
    assert(rdds.isEmpty, s"$what left ${rdds.size} persisted RDDs")
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    assert(cm.isEmpty, s"$what left CacheManager entries")
  }

  /** Drop the managed table `table` and delete its warehouse directory:
    * in a fresh catalog `DROP TABLE IF EXISTS` is a no-op, and a
    * directory an earlier JVM left behind makes the next create fail
    * with LOCATION_ALREADY_EXISTS. */
  def dropManagedTable(table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), table)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
  }

  /** Run `body` over a [[graft.operators.Graph.buildGraphIndex]] table
    * built from `edges`; the table is dropped, with its warehouse
    * directory, before the build and after `body`. */
  def withGraphIndex[A](edges: DataFrame, table: String, buckets: Int)(body: => A): A = {
    dropManagedTable(table)
    try {
      graft.operators.Graph.buildGraphIndex(edges, table, buckets)
      body
    } finally dropManagedTable(table)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
