package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Every main takes its session from `GraftSession` (the harness mains
  * through `BenchUtil.session`) and every job/task count from
  * `pipeline.QueryMetricsListener`: no other main source may build a
  * session or define a listener of its own. Every source a config can
  * name is built by `Connector.fromConfig`, and no other exists. Every
  * graph operator enters through `LoopSession.onEdges`, the one caller of
  * `LoopSession.forGraph`, and every operator cache goes through the
  * `CacheOps` holder. */
class OneFactorySpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** Main sources (relative to src/main/scala/graft) whose text matches `re`. */
  private def sourcesMatching(re: String): Set[String] =
    Using.resource(Files.walk(root)) { paths =>
      paths.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => re.r.findFirstIn(Files.readString(p)).isDefined)
        .map(p => root.resolve("graft").relativize(p).toString)
        .toSet
    }

  test("SparkSession.builder( appears only in GraftSession.scala") {
    assert(Files.isDirectory(root), s"run from the checkout root: $root not found")
    assert(sourcesMatching("""SparkSession\.builder\(""") == Set("GraftSession.scala"))
  }

  test("the one SparkListener in main sources is pipeline/Metrics.scala's") {
    assert(sourcesMatching("""(new|extends|with)\s+SparkListener\b""") ==
      Set("pipeline/Metrics.scala"))
  }

  test("LoopSession.forGraph( appears only in operators/LoopSession.scala") {
    assert(sourcesMatching("""\bforGraph\(""") == Set("operators/LoopSession.scala"))
  }

  test("operator and streaming caches are taken and released only in CacheOps and LoopSession") {
    val cacheCalls = """unpersist\(|localCheckpoint\(|MEMORY_AND_DISK|StorageLevel|getPersistentRDDs"""
    assert(sourcesMatching(cacheCalls).filter(f =>
        f.startsWith("operators/") || f.startsWith("streaming/")) ==
      Set("operators/CacheOps.scala", "operators/LoopSession.scala"))
  }

  test("every Connector class in main sources is built by Connector.fromConfig") {
    val texts = Using.resource(Files.walk(root)) { paths =>
      paths.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => Files.readString(p)).toSeq
    }
    // each class up to its first `extends`, never crossing the next class
    val connectors = texts.flatMap(t =>
      """class\s+(\w+)\b(?:(?!\bclass\s)[\s\S])*?\bextends\s+(\w+)""".r
        .findAllMatchIn(t).filter(_.group(2) == "Connector").map(_.group(1))).toSet
    assert(connectors.contains("CurlConnector") && connectors.contains("MongoConnector"),
      s"the scan found $connectors")
    val fromConfig = texts.flatMap { t =>
      val at = t.indexOf("def fromConfig(")
      if (at < 0) None else Some(t.substring(at, t.indexOf("\n  }\n", at)))
    }.mkString
    assert(fromConfig.nonEmpty, "Connector.fromConfig not found")
    val unbuilt = connectors.filterNot(c => fromConfig.contains(c + "("))
    assert(unbuilt.isEmpty, s"no config can reach $unbuilt")
  }
}
