package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** JSON-pointer access over dynamic JSON columns.
  *
  * chewdata addresses record fields with RFC-6901 pointers
  * (reference: src/helper/json_pointer.rs); in Spark the dynamic part of a
  * record is a JSON string column and pointer access compiles to
  * `get_json_object`, which stays inside WholeStageCodegen.
  */
object JsonFns {

  /** "/a/b/0" or "a/b" → JsonPath "$.a.b[0]". */
  def pointerToPath(pointer: String): String = {
    val parts = pointer.split("/").filter(_.nonEmpty)
    parts.foldLeft("$") { (acc, p) =>
      if (p.forall(_.isDigit)) s"$acc[$p]" else s"$acc.$p"
    }
  }

  /** Extract a field by json-pointer from a JSON string column. */
  def jsonPointer(c: Column, pointer: String): Column =
    get_json_object(c, pointerToPath(pointer))

  /** Extract typed. */
  def jsonPointerLong(c: Column, pointer: String): Column =
    jsonPointer(c, pointer).cast("bigint")

  /** Set/overwrite a top-level field of a one-level JSON object column.
    * An existing `"key": value` pair whose value is a SCALAR (string,
    * number, bool, null) is removed first so the result never carries
    * duplicate keys. A pre-existing object/array value is deliberately NOT
    * touched (a regex cannot balance braces): the new pair is appended
    * last, so last-wins JSON parsers (Jackson, get_json_object) still read
    * the new value, and the document stays well-formed.
    * (Deep structural edits go through from_json/to_json with a schema.) */
  def jsonSet(c: Column, key: String, value: Column): Column = {
    val stripped = regexp_replace(regexp_replace(c, "^\\s*\\{\\s*", ""), "\\s*\\}\\s*$", "")
    val q = java.util.regex.Pattern.quote(key)
    // drop an existing pair (string values may contain escaped quotes) plus
    // one adjacent comma; the scalar branch must not start with '{'/'[' so
    // an object/array value is left intact rather than half-consumed; then
    // tidy any leftover trailing comma
    val removed = regexp_replace(stripped,
      "\"" + q + "\"\\s*:\\s*(\"(\\\\.|[^\"\\\\])*\"|[^,}{\\[][^,}]*)\\s*(,\\s*)?", "")
    val cleaned = regexp_replace(removed, ",\\s*$", "")
    val prefix = when(length(trim(cleaned)) > 0, concat(cleaned, lit(", "))).otherwise(lit(""))
    concat(lit("{"), prefix, lit("\"" + key + "\": "), value.cast("string"), lit("}"))
  }
}
