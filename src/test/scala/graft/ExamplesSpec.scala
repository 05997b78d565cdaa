package graft

import org.apache.spark.sql.functions._
import graft.pipeline.Pipeline

/** Every config in examples/ must RUN (not just parse) — the "a chewdata
  * user could switch" contract, executed. `__IN__`/`__OUT__` placeholders
  * substitute to temp dirs; psql.json (needs a live DB) is parse-checked
  * with its driver class asserted to reach Spark's JDBC layer. */
class ExamplesSpec extends SparkSpec {
  import spark.implicits._

  // repository-relative: specs run with the checkout root as working dir
  private val exDir = "examples"

  private def load(name: String, in: String, out: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get(s"$exDir/$name"))
      .replace("__IN__", in).replace("__OUT__", out)

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-ex-$tag").toString

  test("hello_world.json runs end to end") {
    val flow = Pipeline.run(spark, load("hello_world.json", "", ""))
    val msgs = flow.ok.get.select("message").as[String].collect().sorted.toSeq
    assert(msgs == Seq("Hello !!!", "World !!!"))
  }

  test("local_csv.json reads ;-delimited csv and writes parquet") {
    val in = tmp("csv-in"); val out = tmp("csv-out")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/rows.csv"),
      "id;word\n1;hej\n2;hopp\n")
    Pipeline.run(spark, load("local_csv.json", in, out))
    val rows = spark.read.parquet(s"$out/out_parquet").orderBy("id").collect()
    assert(rows.map(_.getAs[String]("word")).toSeq == Seq("hej", "hopp"))
  }

  test("validator.json splits ok and err flows") {
    val in = tmp("val-in"); val out = tmp("val-out")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/people.jsonl"),
      """{"name":"ada","age":36}
{"name":null,"age":10}
{"name":"bob","age":-1}""")
    val flow = Pipeline.run(spark, load("validator.json", in, out))
    assert(flow.ok.get.count() == 1 && flow.err.get.count() == 2)
    assert(spark.read.json(s"$out/valid").count() == 1)
  }

  test("generator.json fabricates seeded faker rows") {
    val out = tmp("gen-out")
    Pipeline.run(spark, load("generator.json", "", out))
    val rows = spark.read.json(s"$out/people")
    assert(rows.count() == 10)
    assert(rows.filter(col("firstname").isNull || col("city").isNull).count() == 0)
    // seeded fakers are deterministic: same seed, same name
    val again = tmp("gen-again")
    Pipeline.run(spark, load("generator.json", "", again))
    assert(spark.read.json(s"$again/people").orderBy("id").collect().toSeq ==
      rows.orderBy("id").collect().toSeq)
  }

  test("transform_mapping.json enriches through the referential") {
    val in = tmp("map-in"); val out = tmp("map-out")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/orders.jsonl"),
      """{"code":"A","qty":2,"price":10.0}
{"code":"B","qty":3,"price":5.0}""")
    Pipeline.run(spark, load("transform_mapping.json", in, out))
    val rows = spark.read.json(s"$out/mapped").orderBy("code").collect()
    assert(rows.map(_.getAs[String]("mapping_label")).toSeq == Seq("alpha", "beta"))
    assert(rows.map(_.getAs[Double]("total")).toSeq == Seq(20.0, 15.0))
    assert(!rows.head.schema.fieldNames.contains("price"))
  }

  test("training_pipeline.json runs the LLM-data path on real docs") {
    val in = tmp("tp-in"); val out = tmp("tp-out")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.parquet(s"$in/docs.parquet")
    Pipeline.run(spark, load("training_pipeline.json", in, out))
    val rows = spark.read.parquet(s"$out/clean")
    assert(rows.count() > 0)
    // chunking is the last transform: chunk ids over the deduped,
    // scrubbed, budget-sampled corpus (chunkDocs projects its own shape)
    assert(rows.columns.contains("chunk_id") && rows.columns.contains("n_tokens"))
  }

  test("streaming.json runs the stream reader to a parquet sink") {
    val in = tmp("st-in"); val out = tmp("st-out")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$in/stream_in"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/stream_in/p.jsonl"),
      """{"id":1,"word":"hej"}
{"id":2,"word":"hopp"}""")
    Pipeline.run(spark, load("streaming.json", in, out))
    val rows = spark.read.parquet(s"$out/stream_out").orderBy("id").collect()
    assert(rows.map(_.getAs[String]("upper_word")).toSeq == Seq("HEJ", "HOPP"))
  }

  test("annotate.json attaches quality/lang/diversity columns via SQL fns") {
    val in = tmp("an-in"); val out = tmp("an-out")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50).write.parquet(s"$in/docs.parquet")
    Pipeline.run(spark, load("annotate.json", in, out))
    val rows = spark.read.parquet(s"$out/annotated")
    assert(rows.count() == 50)
    Seq("lang", "quality", "n_tokens", "diversity", "fp").foreach(c =>
      assert(rows.filter(col(c).isNull).count() == 0, s"null $c"))
    assert(rows.filter(col("quality") < 0 || col("quality") > 1).count() == 0)
  }

  test("events_analytics.json runs debounce -> sessionize -> funnel on real events") {
    val in = tmp("ev-in"); val out = tmp("ev-out")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .write.parquet(s"$in/events.parquet")
    Pipeline.run(spark, load("events_analytics.json", in, out))
    val funnel = spark.read.parquet(s"$out/funnel")
    assert(funnel.columns.contains("depth"))
    assert(funnel.count() > 0)
    val depths = funnel.select("depth").as[Long].collect()
    assert(depths.forall(d => d >= 0 && d <= 3))
    assert(depths.exists(_ > 0), "some user should progress past stage 0")
  }

  test("graph_rank.json ranks an edge list into parquet node scores") {
    val in = tmp("gr-in"); val out = tmp("gr-out")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/edges.jsonl"),
      """{"src":1,"dst":2}
        |{"src":1,"dst":3}
        |{"src":2,"dst":1}
        |{"src":3,"dst":1}
        |""".stripMargin)
    Pipeline.run(spark, load("graph_rank.json", in, out))
    val ranks = spark.read.parquet(s"$out/ranks").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks.size == 3)
    assert(ranks(1L) > ranks(2L) && ranks(2L) == ranks(3L))
  }

  test("graph_core.json peels an edge list to its 2-core") {
    val in = tmp("gc-in"); val out = tmp("gc-out")
    // triangle {1,2,3} + pendant chain 3-4-5
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/edges.jsonl"),
      """{"src":1,"dst":2}
        |{"src":1,"dst":3}
        |{"src":2,"dst":3}
        |{"src":3,"dst":4}
        |{"src":4,"dst":5}
        |""".stripMargin)
    Pipeline.run(spark, load("graph_core.json", in, out))
    val core = spark.read.parquet(s"$out/core").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"got $core")
  }

  test("quality_frontier.json keeps the length x diversity frontier, sharded") {
    val out = tmp("qf-out")
    Pipeline.run(spark, load("quality_frontier.json", "/root/testdata/sf0.001", out))
    val rows = spark.read.parquet(s"$out/frontier")
      .select(col("n_tokens").cast("long"), col("diversity_x1000").cast("long"),
        col("shard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.nonEmpty && rows.length < 500, "frontier is a strict subset")
    // survivors form an antichain on (length, diversity)
    rows.foreach { case (xi, yi, _) =>
      assert(!rows.exists { case (xj, yj, _) =>
        xj >= xi && yj >= yi && (xj > xi || yj > yi) }, s"($xi,$yi) dominated")
    }
    assert(rows.map(_._3).forall(s => s >= 0 && s < 4), "shards in range")
  }

  test("clean_names.json dedups near-identical names and z-scores ages") {
    val in = tmp("cn-in"); val out = tmp("cn-out")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/people.jsonl"),
      """{"id":1,"name":"Ada Lovelace","country":"uk","age":36}
        |{"id":2,"name":"Ada Lovelece","country":"uk","age":30}
        |{"id":3,"name":"Alan Turing","country":"uk","age":41}
        |{"id":4,"name":"Grace Hopper","country":"us","age":85}
        |{"id":5,"name":"Grace Hoppre","country":"us","age":79}
        |""".stripMargin)
    Pipeline.run(spark, load("clean_names.json", in, out))
    val rows = spark.read.json(s"$out/clean").collect()
      .map(r => r.getAs[Long]("id")).toSet
    // Lovelace/Lovelece is one substitution (collapses to id 1);
    // Hopper/Hoppre is a transposition = Levenshtein 2 (both kept)
    assert(rows == Set(1L, 3L, 4L, 5L))
    val z = spark.read.json(s"$out/clean")
    assert(z.columns.contains("age_z"))
  }

  test("psql.json parses; its driver class reaches Spark's JDBC layer") {
    val parsed = Pipeline.parse(load("psql.json", "", tmp("psql")))
    val conn = parsed.steps.collectFirst {
      case pipeline.Pipeline.Reader(_, c: sources.JdbcConnector, _, _) => c
    }.get
    assert(conn.url.startsWith("jdbc:postgresql://"))
    assert(conn.driver == "org.postgresql.Driver" && conn.numPartitions == 64)
  }

  test("every example file is listed in the README table") {
    val files = new java.io.File(exDir).listFiles().map(_.getName)
      .filter(_.endsWith(".json")).toSet
    val readme = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$exDir/README.md"))
    files.foreach(f => assert(readme.contains(f), s"$f missing from README"))
  }
}
