package graft

import org.apache.spark.sql.SparkSession

/** Ad-hoc profiler: time named SparkEntry queries repeatedly.
  * `runMain graft.Prof <sfDir> <reps> <name...>` (no names = all). */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val names = args.drop(2).toSeq
    val cpus = BenchUtil.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    val sel = if (names.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
      else names.map(n => n -> SparkEntry.queries(n))
    for (r <- 1 to reps; (name, fn) <- sel) {
      val t0 = System.nanoTime()
      val n = try fn(spark, sfDir).count() catch { case e: Throwable => println(s"$name FAILED: $e"); -1L }
      println(f"[prof] rep$r $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.3f s  ($n rows)")
    }
    spark.stop()
  }
}
