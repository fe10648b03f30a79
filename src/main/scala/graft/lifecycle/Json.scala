package graft.lifecycle

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}

/** The engine's one JSON reader: request bodies, provider replies, the
  * agent config, stored threads and favourites and search responses all
  * parse through the Jackson mapper here (the
  * reference decodes with Flask's `request.json` and `json.load`,
  * storage_manager.py:137-243). It also owns the one string-literal
  * escaper every hand-assembled response uses.
  *
  * Parsing is strict: content after the document's value fails
  * (`FAIL_ON_TRAILING_TOKENS`), so a truncated or concatenated document
  * never reads quietly. Field reads look at one object's own fields, never
  * at keys nested deeper, and a field of the wrong JSON type reads as
  * absent.
  */
object Json {

  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** Reads one value off a parser and leaves what follows it unread. */
  private val leadingValue = mapper.reader()
    .without(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** The whole document as a tree; throws on empty, malformed, truncated
    * or trailing content. */
  def parse(doc: String): JsonNode = {
    val node = mapper.readTree(doc)
    if (node == null || node.isMissingNode)
      throw new IllegalArgumentException("empty JSON document")
    node
  }

  /** A body as an object. A body that is not a JSON object reads as an
    * object with no fields, so every field of it is absent. */
  def fields(doc: String): JsonNode =
    Try(parse(doc)).toOption.filter(_.isObject)
      .getOrElse(mapper.createObjectNode())

  /** The JSON value that starts at `from` in `text` (leading whitespace
    * skipped); the text after it is not read. None when no complete value
    * starts there. */
  def valueAt(text: String, from: Int): Option[JsonNode] = Try {
    val p = mapper.getFactory.createParser(text.substring(from))
    try leadingValue.readTree[JsonNode](p) finally p.close()
  }.toOption.filter(n => n != null && !n.isMissingNode)

  /** `node`'s own field `name` unless absent or null. */
  def child(node: JsonNode, name: String): Option[JsonNode] =
    Option(node.get(name)).filterNot(_.isNull)

  def text(node: JsonNode, name: String): Option[String] =
    Option(node.get(name)).filter(_.isTextual).map(_.textValue)

  /** An integral field that fits a Long. */
  def long(node: JsonNode, name: String): Option[Long] =
    Option(node.get(name))
      .filter(n => n.isIntegralNumber && n.canConvertToLong).map(_.longValue)

  /** The string elements of an array field; None when the field is not an
    * array. */
  def strings(node: JsonNode, name: String): Option[Seq[String]] =
    Option(node.get(name)).filter(_.isArray)
      .map(elements(_).filter(_.isTextual).map(_.textValue))

  /** An array's elements; empty for anything else. */
  def elements(node: JsonNode): Seq[JsonNode] =
    if (node.isArray) node.asScala.toSeq else Nil

  def write(node: JsonNode): String = mapper.writeValueAsString(node)

  /** A JSON string literal: quote, backslash and every control character
    * escaped (`\n`, `\r`, `\t` short, the rest `\u00xx`), all else as is. */
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
