package graft

import graft.pipeline.Pipeline

/** CLI entry point (reference: src/main.rs): run a JSON/YAML pipeline config
  * given inline or via --file, on the shipped session config
  * (`GraftSession.builder`, SPARK_MASTER else `local[*]`).
  * `graft.Main '<json>'` or `graft.Main -f cfg`. */
object Main {
  def main(args: Array[String]): Unit = {
    val config = args.toList match {
      case ("-f" | "--file") :: path :: _ =>
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
      case json :: _ => json
      case Nil =>
        // no config: stdin json → stdout json, like the reference default
        """[{"type":"reader","connector":{"type":"cli"},"document":{"type":"json"}},
          | {"type":"writer","connector":{"type":"cli"},"document":{"type":"json"}}]""".stripMargin
    }
    val spark = GraftSession.builder().config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try Pipeline.run(spark, config)
    finally spark.stop()
  }
}
