package graft.functions

import com.fasterxml.jackson.core.{JsonProcessingException, StreamReadFeature}
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** The engine's one JSON seat. Writing: string escaping for the
  * hand-rolled JSON the engine emits (oracle dumps, HTTP façade payloads,
  * control-plane docs) — backslash, quote, and ALL control chars. Reading:
  * every control-plane doc and JSON-valued option goes through
  * [[parseObject]] and the field readers below, which refuse what they
  * cannot read whole. */
object JsonText {
  def escape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** `escape` wrapped in quotes — a complete JSON string literal. */
  def quote(s: String): String = "\"" + escape(s) + "\""

  private val mapper = JsonMapper.builder()
    .enable(StreamReadFeature.STRICT_DUPLICATE_DETECTION)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .build()

  /** `text` as one JSON object; `IllegalArgumentException` for input that
    * is empty, truncated, has trailing tokens or a duplicate key, or is
    * not an object. */
  def parseObject(text: String): ObjectNode =
    (try mapper.readTree(text) catch {
      case e: JsonProcessingException => throw new IllegalArgumentException(
        s"malformed JSON: ${e.getOriginalMessage}", e)
    }) match {
      case o: ObjectNode => o
      case _ => throw new IllegalArgumentException(
        s"expected a JSON object, got '${text.take(64)}'")
    }

  /** `n` as a Long: refuses a non-integer or one beyond Long's range. */
  def long(n: JsonNode): Long =
    if (n.isIntegralNumber && n.canConvertToLong) n.longValue
    else throw new IllegalArgumentException(s"expected an integer, got $n")

  /** The integer field `name` of `doc`; None when absent. */
  def longField(doc: JsonNode, name: String): Option[Long] =
    Option(doc.get(name)).map(long)

  /** `n` as a string: refuses any other node type. */
  def text(n: JsonNode): String =
    if (n.isTextual) n.textValue
    else throw new IllegalArgumentException(s"expected a string, got $n")
}
