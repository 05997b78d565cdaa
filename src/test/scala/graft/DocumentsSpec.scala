package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import graft.pipeline.{Pipeline, QueryMetricsListener}
import graft.sources.Documents

/** The schema memo behind `Documents.read` and in_memory literals: a
  * repeat read of an unchanged input infers no schema (no Spark job), and
  * every change to the input, or a missing one, reads as it would fresh. */
class DocumentsSpec extends SparkSpec {

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  private def write(p: Path, lines: String*): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  /** `f`'s result and the number of Spark jobs it started. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val (r, l) = QueryMetricsListener.during(spark)(f)
    (r, l.jobsStarted.intValue)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.toJSON.collect().sorted.toSeq

  test("a second run over unchanged inputs runs exactly the two inference jobs fewer") {
    val dir = tmp("memo_run")
    write(dir.resolve("in/a.jsonl"), """{"id":1,"code":"A"}""", """{"id":2,"code":"B"}""")
    write(dir.resolve("in/b.jsonl"), """{"id":3,"code":"A"}""")
    // a literal no other spec uses: its first load must infer
    val tag = java.util.UUID.randomUUID().toString
    def config(out: String) =
      s"""[
         | {"type": "reader",
         |  "connector": {"type": "local", "path": "$dir/in/*.jsonl"},
         |  "document": {"type": "jsonl"}},
         | {"type": "referential", "name": "cat", "left_on": "code", "right_on": "code",
         |  "connector": {"type": "in_memory",
         |    "data": "[{\\"code\\":\\"A\\",\\"label\\":\\"$tag\\"},{\\"code\\":\\"B\\",\\"label\\":\\"b\\"}]"},
         |  "document": {"type": "json"}},
         | {"type": "writer",
         |  "connector": {"type": "local", "path": "$dir/$out"},
         |  "document": {"type": "jsonl"}}
         |]""".stripMargin
    val (_, first) = jobsDuring(Pipeline.run(spark, config("out1")))
    val (_, second) = jobsDuring(Pipeline.run(spark, config("out2")))
    assert(first - second == 2, s"first run $first jobs, second $second")
    val out = rows(spark.read.json(s"$dir/out2"))
    assert(out == rows(spark.read.json(s"$dir/out1")))
    assert(out.size == 3 && out.count(_.contains(tag)) == 2)
  }

  test("an appended line or a replaced file shows its new field on the next read") {
    val dir = tmp("memo_change")
    val f = dir.resolve("in/a.jsonl")
    write(f, """{"a":1}""")
    val glob = s"$dir/in/*.jsonl"
    assert(Documents.read(spark, "jsonl", glob).columns.toSeq == Seq("a"))
    val (hit, jobs) = jobsDuring(Documents.read(spark, "jsonl", glob))
    assert(jobs == 0 && hit.columns.toSeq == Seq("a"))

    Files.write(f, """{"a":2,"b":"x"}""".concat("\n").getBytes(UTF_8),
      java.nio.file.StandardOpenOption.APPEND)
    val appended = Documents.read(spark, "jsonl", glob)
    assert(appended.columns.toSeq == Seq("a", "b"))
    assert(rows(appended) == Seq("""{"a":1}""", """{"a":2,"b":"x"}"""))

    // same length, new field name: only the modification time tells
    val before = Files.getLastModifiedTime(f).toMillis
    val staged = dir.resolve("staged.jsonl")
    write(staged, """{"a":1}""", """{"a":2,"c":"x"}""")
    Files.move(staged, f, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(before + 2000))
    val replaced = Documents.read(spark, "jsonl", glob)
    assert(replaced.columns.toSeq == Seq("a", "c"))
    assert(rows(replaced) == Seq("""{"a":1}""", """{"a":2,"c":"x"}"""))
  }

  test("a malformed line reads the same rows, _corrupt_record included, on a memo hit") {
    val dir = tmp("memo_corrupt")
    write(dir.resolve("bad.jsonl"), """{"a":1}""", """{"a":2,""", """{"a":3,"b":"y"}""")
    val path = s"$dir/bad.jsonl"
    val fresh = spark.read.json(path)
    assert(fresh.columns.contains("_corrupt_record"))
    Documents.read(spark, "jsonl", path)
    val (hit, jobs) = jobsDuring(Documents.read(spark, "jsonl", path))
    assert(jobs == 0)
    assert(hit.schema == fresh.schema)
    assert(rows(hit) == rows(fresh))
    assert(rows(hit).exists(_.contains("""{\"a\":2,""")))
  }

  test("a k=v partitioned glob keeps its partition column on a memo hit") {
    val dir = tmp("memo_part")
    write(dir.resolve("t1/k=a/x.jsonl"), """{"v":1}""", """{"v":2}""")
    write(dir.resolve("t1/k=b/y.jsonl"), """{"v":3}""")
    val glob = s"$dir/t*"
    val fresh = Documents.read(spark, "jsonl", glob)
    assert(fresh.columns.toSeq == Seq("v", "k"))
    val (hit, jobs) = jobsDuring(Documents.read(spark, "jsonl", glob))
    assert(jobs == 0)
    assert(hit.schema == fresh.schema)
    assert(rows(hit) == Seq("""{"v":1,"k":"a"}""", """{"v":2,"k":"a"}""", """{"v":3,"k":"b"}"""))
  }

  test("the memo keys on document type, options and the session's SQL conf") {
    val dir = tmp("memo_key")
    write(dir.resolve("pretty.json"), """{"a":""", """ 1}""")
    val pretty = s"$dir/pretty.json"
    // line by line, neither line is a record; as one document, it is one
    assert(Documents.read(spark, "jsonl", pretty).columns.toSeq == Seq("_corrupt_record"))
    assert(Documents.read(spark, "json", pretty).columns.toSeq == Seq("a"))

    write(dir.resolve("t.csv"), "a;b", "1;2")
    val csv = s"$dir/t.csv"
    assert(Documents.read(spark, "csv", csv).columns.toSeq == Seq("a;b"))
    assert(Documents.read(spark, "csv", csv, Documents.DocOptions(delimiter = ";"))
      .columns.toSeq == Seq("a", "b"))

    val renamed = spark.newSession()
    renamed.conf.set("spark.sql.columnNameOfCorruptRecord", "_bad")
    assert(Documents.read(renamed, "jsonl", pretty).columns.toSeq == Seq("_bad"))
  }

  test("a missing path throws PATH_NOT_FOUND, fresh or after its files are gone") {
    val dir = tmp("memo_missing")
    def condition(path: String): String =
      intercept[org.apache.spark.sql.AnalysisException](
        Documents.read(spark, "jsonl", path)).getCondition
    assert(condition(s"$dir/never.jsonl") == "PATH_NOT_FOUND")
    val f = dir.resolve("gone.jsonl")
    write(f, """{"a":1}""")
    assert(Documents.read(spark, "jsonl", f.toString).count() == 1)
    Files.delete(f)
    assert(condition(f.toString) == "PATH_NOT_FOUND")
  }
}
