package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact line `Bench.writeFull` writes is the one the fork
  * coordinator reads back with `Bench.parseShard`: both ends must agree,
  * and the line's shape (key order, `"value":null` while a gate failed)
  * is what the repo's committed BENCH_FULL files hold. */
class BenchArtifactSpec extends AnyFunSuite {

  test("a shard written by writeFull parses back to the same maps and failed list") {
    val dir = Files.createTempDirectory("bench-artifact")
    val path = dir.resolve("BENCH_SHARD_0.json")
    val queries = Seq("q_alpha" -> 1.5, "q_beta" -> 0.0625)
    val isolated = Seq("q_beta" -> -1.0)
    val failed = Seq("q_gamma")
    Bench.writeFull(path.toString, queries, isolated, failed, "/data/sf0.01")

    assert(Files.readString(path, UTF_8) ==
      """{"metric":"total","value":null,"unit":"sec",""" +
      """"queries":{"q_alpha":1.5,"q_beta":0.0625},"isolated":{"q_beta":-1.0},""" +
      """"failed":["q_gamma"],"sf":"/data/sf0.01"}""" + "\n")
    assert(Bench.parseShard(path.toString) == ((queries, isolated, failed)))
  }
}
