package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = BenchUtil.session()
    new java.io.File(outDir).mkdirs()
    // Dev-loop filter (driver never sets it): comma-separated gate names.
    // Any outDir subdirectory this run won't rewrite — a skipped gate, or a
    // directory left by a since-renamed/removed gate — is deleted, so a
    // reused outDir can't re-verify parquet from an earlier run as current.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val willWrite = only.getOrElse(SparkEntry.queries.keySet)
    import scala.jdk.CollectionConverters._
    import scala.util.Using
    Using.resource(Files.list(Paths.get(outDir))) { entries =>
      entries.iterator().asScala.toSeq
        .filter(d => Files.isDirectory(d) && !willWrite(d.getFileName.toString))
        .foreach { d =>
          Using.resource(Files.walk(d)) {
            _.iterator().asScala.toSeq.reverse.foreach(Files.delete)
          }
        }
    }
    SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop cache ballast between gates (same discipline as Bench): a
      // 175-gate sweep otherwise accumulates operator-owned persisted
      // frames for the whole JVM lifetime
      BenchUtil.dropBallast(spark)
    }
    // a JSON writer escapes every control char an oracle SQL string may
    // hold; a stray tab or CR would otherwise make tools/check.py's
    // json.load fail and silently zero the correctness record
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(SparkEntry.oracleSql.asJava)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
