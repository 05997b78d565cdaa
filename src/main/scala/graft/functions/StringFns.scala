package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** String helpers mirroring chewdata's tera string filters/functions
  * (reference: src/updater/tera_helpers/filters/string.rs,
  * src/helper/checksum.rs) as native Spark column functions — every one is a
  * built-in expression, codegen'd, zero UDFs.
  */
object StringFns {

  def base64Encode(c: Column): Column = base64(c.cast("binary"))

  def base64Decode(c: Column): Column = unbase64(c).cast("string")

  /** tera `find` filter: first regex match (null when absent). */
  def find(c: Column, pattern: String): Column =
    nullif(regexp_extract(c, pattern, 0), lit(""))

  /** Checksums (chewdata src/helper/checksum.rs supports md5/sha families). */
  def checksumMd5(c: Column): Column    = md5(c.cast("binary"))
  def checksumSha256(c: Column): Column = sha2(c.cast("binary"), 256)

  /** Environment variable as literal (driver-side resolution, like tera's
    * `env` function — the value is fixed at plan time). */
  def env(name: String, default: String = ""): Column =
    lit(sys.env.getOrElse(name, default))

  /** uuid_v4 — nondeterministic per row, like the reference. */
  def uuidV4(): Column = expr("uuid()")

  /** Deterministic slug (lowercase, alnum runs joined by '-'). */
  def slugify(c: Column): Column =
    regexp_replace(regexp_replace(lower(trim(c)), "[^a-z0-9]+", "-"), "(^-)|(-$)", "")
}

/** Checksum dispatch by algorithm name (reference: src/helper/checksum.rs
  * accepts md5, sha1, the sha2 family, and the sha3 family). */
object Checksums {
  import org.apache.spark.sql.functions.{md5 => smd5, sha1 => ssha1, sha2, crc32 => scrc32}
  import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => toExpr}

  def checksum(algorithm: String, c: Column): Column = {
    val bin = c.cast("binary")
    algorithm.toLowerCase.replace("_", "-") match {
      case "md5"                          => smd5(bin)
      case "sha1" | "sha-1"               => ssha1(bin)
      case "crc32"                        => scrc32(bin)
      case "sha224" | "sha2-224"          => sha2(bin, 224)
      case "sha256" | "sha2-256"          => sha2(bin, 256)
      case "sha384" | "sha2-384"          => sha2(bin, 384)
      case "sha512" | "sha2-512"          => sha2(bin, 512)
      case "sha3-224"                     => toCol(graft.plans.DigestHex(toExpr(bin), "SHA3-224"))
      case "sha3-256"                     => toCol(graft.plans.DigestHex(toExpr(bin), "SHA3-256"))
      case "sha3-384"                     => toCol(graft.plans.DigestHex(toExpr(bin), "SHA3-384"))
      case "sha3-512"                     => toCol(graft.plans.DigestHex(toExpr(bin), "SHA3-512"))
      case other => throw new IllegalArgumentException(s"unknown checksum algorithm: $other")
    }
  }

  /** Parse "algo:checksum" (reference str_to_algorithm_name_with_checksum). */
  def parseAlgorithmChecksum(s: String): (String, Option[String]) =
    s.split(":", 3) match {
      case Array(a) if a.nonEmpty && a.length <= 10 => (a, None)
      case Array(a, c) if a.nonEmpty && a.length <= 10 => (a, Some(c))
      case _ => throw new IllegalArgumentException(s"invalid algorithm:checksum string: $s")
    }
}
