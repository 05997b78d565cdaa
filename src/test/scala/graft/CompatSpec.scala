package graft

import graft.pipeline.Pipeline
import graft.sources.{Documents, JsonConcat}
import org.apache.spark.sql.functions._

/** Compatibility with chewdata's document shapes: hand-authored fixtures
  * under `src/test/resources/compat/` (multi_lines.* in every format the
  * reference ships, plus its referential mapping) parse to the same logical
  * records, and a chewdata-shaped config with transformer actions + a
  * referential mapping produces the mapped output its transform-mapping
  * example expects. The two tree sweeps cover graft's own `examples/` and
  * these fixtures. */
class CompatSpec extends SparkSpec {
  import spark.implicits._

  private val data =
    new java.io.File(getClass.getResource("/compat/mapping.json").toURI).getParent
  private val expectedNumbers = Seq(10L, 20L, 30L)

  private def numbers(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select(col("number").cast("long")).as[Long].collect().sorted.toSeq

  test("csv fixture (quoted embedded newlines)") {
    val df = Documents.read(spark, "csv", s"$data/multi_lines.csv",
      Documents.DocOptions(multiLine = true))
    assert(numbers(df) == expectedNumbers)
    val ls = df.filter(col("number") === 10).select("long-string").as[String].head()
    assert(ls == "Long val\nto test")
  }

  test("json fixture (array of multi-line objects)") {
    val df = Documents.read(spark, "json", s"$data/multi_lines.json")
    assert(numbers(df) == expectedNumbers)
  }

  test("jsonl fixture (concatenated pretty-printed objects)") {
    val df = JsonConcat.read(spark, s"$data/multi_lines.jsonl")
    assert(numbers(df) == expectedNumbers)
    assert(df.filter(col("number") === 20).select("long-string").as[String].head()
      == "Long val\nto test 2")
  }

  test("parquet fixture") {
    val df = Documents.read(spark, "parquet", s"$data/multi_lines.parquet")
    assert(numbers(df) == expectedNumbers)
  }

  test("xml fixture (attribute-style rows)") {
    val df = Documents.read(spark, "xml", s"$data/multi_lines.xml",
      Documents.DocOptions(rowTag = "item", attributePrefix = ""))
    assert(numbers(df) == expectedNumbers)
  }

  test("yaml fixture (multi-document with block scalars)") {
    val df = Documents.read(spark, "yaml", s"$data/multi_lines.yml")
    assert(numbers(df) == expectedNumbers)
    assert(df.filter(col("number") === 10).select("long-string").as[String].head()
      == "Long val\nto test")
  }

  test("toml fixture (array-of-tables with triple-quoted strings)") {
    val df = Documents.read(spark, "toml", s"$data/multi_lines.toml")
    assert(numbers(df) == expectedNumbers)
    assert(df.filter(col("number") === 10).select("long-string").as[String].head()
      == "Long val\nto test")
  }

  /** Files under the repo's example configs and compat fixtures (test
    * JVMs run from the repository root). */
  private def files(dirs: String*): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    dirs.flatMap(d => walk(new java.io.File(d)))
  }

  test("every example config parses") {
    // graft's own examples/ mirror the chewdata example set: each parses
    // with the pipeline compiler (parse-level: several point at inputs or
    // endpoints a spec does not provide)
    val configs = files("examples").filter(_.getName.endsWith(".json"))
    assert(configs.nonEmpty)
    var parsed = 0
    val failures = Seq.newBuilder[String]
    configs.foreach { f =>
      try { Pipeline.parse(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")); parsed += 1 }
      catch { case e: Throwable =>
        failures += s"${f.getName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
      }
    }
    val failed = failures.result()
    assert(failed.isEmpty, s"${failed.size} configs failed:\n${failed.mkString("\n")}")
    assert(parsed == configs.size)
  }

  test("transform-mapping example shape: actions + referential mapping") {
    // mirrors examples/transform-mapping.rs: enrich each record through the
    // mapping referential, add a computed field, drop one, replace one
    val flow = Pipeline.run(spark,
      s"""[
         | {"type": "r",
         |  "connector": {"type": "local", "path": "$data/multi_lines.json"},
         |  "document": {"type": "json"}},
         | {"type": "referential", "name": "mapping",
         |  "left_on": "code", "right_on": "mapping_code",
         |  "connector": {"type": "local", "path": "$data/mapping.json"},
         |  "document": {"type": "json"}},
         | {"type": "t", "actions": [
         |   {"field": "my_new_field", "pattern": "number * 2", "type": "merge"},
         |   {"field": "remove_field", "type": "remove"},
         |   {"field": "boolean", "pattern": "'replaced'", "type": "replace"}]}
         |]""".stripMargin)
    val out = flow.ok.get
    assert(!out.columns.contains("remove_field"))
    val rows = out.orderBy("number")
      .select("number", "my_new_field", "mapping_mapping_value", "boolean")
      .collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(20L, 40L, 60L))
    assert(rows.map(_.getString(2)).toSeq ==
      Seq("value mapped", "value mapped 2", "value mapped 3"))
    assert(rows.forall(_.getString(3) == "replaced"))
  }

  test("every tera tag the example configs and fixtures use is supported here") {
    // sweep examples/ and the compat fixtures for {% tag %} keywords; each
    // must be in the compiler's supported set. The engine also supports tags
    // the configs never use (macro/include/import/extends/block — tera
    // engine features the reference exposes via Tera::default()).
    val supported = Set("if", "elif", "else", "endif", "for", "endfor", "set",
      "macro", "endmacro", "include", "import", "extends", "block", "endblock",
      "filter", "endfilter")
    val tag = raw"\{%-?\s*([a-z_]+)".r
    val used = files("examples", "src/test/resources/compat")
      .filter(f => Seq(".json", ".yaml", ".yml", ".hjson", ".md", ".toml").exists(f.getName.endsWith))
      .flatMap(f => tag.findAllMatchIn(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).map(_.group(1)))
      .toSet
    assert(used.nonEmpty, "expected the example configs and fixtures to use tera tags")
    val missing = used -- supported
    assert(missing.isEmpty, s"configs use unsupported tera tags: $missing")
    // the fixture carrying the chewdata tag forms runs, not just scans
    val cfg = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$data/tera_tags.json")), "UTF-8")
    val rows = Pipeline.run(spark, cfg).ok.get.orderBy("number")
      .select("size", "words", "double", "shout").as[(String, String, String, String)].collect().toSeq
    assert(rows == Seq(("mid", "[long][val]", "20", "LONG VAL"), ("big", "[to][test]", "40", "TO TEST")))
  }
}
