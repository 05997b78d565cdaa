package graft

import com.fasterxml.jackson.databind.JsonNode
import scala.jdk.CollectionConverters._

/** Typed reads of a config node's optional fields, each with its default:
  * the one reader of the pipeline's step configs and the sources'
  * connector configs. */
private[graft] final class Fields(node: JsonNode) {
  /** The first of `keys` (a field, then its aliases) the node has. */
  def get(keys: String*): Option[JsonNode] = keys.iterator.map(node.get).find(_ != null)
  def str(k: String, d: String = ""): String = if (node.has(k)) node.get(k).asText() else d
  def int(k: String, d: Int): Int = if (node.has(k)) node.get(k).asInt() else d
  def long(k: String, d: Long): Long = if (node.has(k)) node.get(k).asLong() else d
  def dbl(k: String, d: Double): Double = if (node.has(k)) node.get(k).asDouble() else d
  /** A JSON boolean or the text `true`/`false`; any other value throws
    * `IllegalArgumentException`, naming the key. */
  def bool(k: String, d: Boolean): Boolean =
    if (!node.has(k)) d
    else {
      val v = node.get(k)
      if (v.isBoolean) v.booleanValue()
      else if (v.isTextual && (v.asText() == "true" || v.asText() == "false"))
        v.asText().toBoolean
      else throw new IllegalArgumentException(s"config field `$k` must be true or false, got $v")
    }
  def strs(k: String, d: Seq[String] = Nil): Seq[String] =
    Option(node.get(k)).fold(d)(_.elements().asScala.map(_.asText()).toSeq)
  def longs(k: String): Seq[Long] =
    Option(node.get(k)).fold(Seq.empty[Long])(_.elements().asScala.map(_.asLong()).toSeq)
  /** The text values of an object field, by key. */
  def strMap(k: String): Map[String, String] =
    Option(node.get(k)).fold(Map.empty[String, String])(
      _.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
}
