package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node._

/** JSON output through Jackson, which writes doubles with
  * `java.lang.Double.toString` (a dot and every significant digit), so a
  * comma-decimal JVM locale cannot corrupt an output line. NaN and
  * infinities become null.
  */
object Json {
  private val mapper = new ObjectMapper()

  /** An object of the pairs, in order; a value may itself be a [[node]]. */
  def node(kv: (String, Any)*): ObjectNode = {
    val n = mapper.createObjectNode()
    kv.foreach { case (k, v) => n.replace(k, value(v)) }
    n
  }

  def obj(kv: (String, Any)*): String = mapper.writeValueAsString(node(kv: _*))

  def str(s: String): String = mapper.writeValueAsString(s)

  private def value(v: Any): JsonNode = v match {
    case null | None => NullNode.instance
    case Some(x) => value(x)
    case n: JsonNode => n
    case s: String => TextNode.valueOf(s)
    case b: Boolean => BooleanNode.valueOf(b)
    case i: Int => IntNode.valueOf(i)
    case l: Long => LongNode.valueOf(l)
    case d: Double => if (d.isNaN || d.isInfinite) NullNode.instance else DoubleNode.valueOf(d)
    case other => TextNode.valueOf(other.toString)
  }
}
