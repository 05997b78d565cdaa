package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Every main takes its session from `GraftSession` (the harness mains
  * through `BenchUtil.session`) and every job/task count from
  * `pipeline.QueryMetricsListener`: no other main source may build a
  * session or define a listener of its own. */
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
}
