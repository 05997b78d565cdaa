package graft

/** Write executed-plan dumps for named gates to plans/<dir>/<gate>_<tag>.txt
  * (the optimization-round evidence files): runs each gate once under the
  * bench session confs so AQE final plans and persisted-operator internals
  * are visible, then records a one-line operator census plus the full
  * `explain("formatted")` text.
  * `sbt "runMain graft.PlanDump r17 before q_hits q_scc ..."` */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0) // e.g. r17
    val tag = args(1) // before | after
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = BenchUtil.cpus
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"plans/$outDir"))
    names.foreach { n =>
      BenchUtil.dropBallast(spark)
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.count() // execute: settles AQE final plans + materializes persists
      val txt = org.apache.spark.sql.graftbridge.Bridge.explainFormatted(df)
      def c(op: String): Int = opCount(txt, op)
      val summary = s"== plan summary: Exchange=${c("Exchange")} " +
        s"SortMergeJoin=${c("SortMergeJoin")} " +
        s"ShuffledHashJoin=${c("ShuffledHashJoin")} " +
        s"BroadcastHashJoin=${c("BroadcastHashJoin")} " +
        s"Sort=${c("Sort")} Window=${c("Window")}\n"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"plans/$outDir/${n}_$tag.txt"),
        (summary + txt).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"dumped $n -> plans/$outDir/${n}_$tag.txt")
    }
    spark.stop()
  }

  /** Tree nodes named `op` in a formatted explain: a node header is the
    * tree prefix (`+-`, `:-`, `:`, `*`, spaces), the operator name, its
    * optional arguments (`SortMergeJoin Inner`) and its `(id)`; so
    * `BroadcastExchange (5)` and `ReusedExchange (7)` are not `Exchange`. */
  def opCount(txt: String, op: String): Int =
    ("(?m)^[ :|+*-]*" + java.util.regex.Pattern.quote(op) + "( [^()\\n]*)? \\(\\d+\\)$")
      .r.findAllIn(txt).length
}
