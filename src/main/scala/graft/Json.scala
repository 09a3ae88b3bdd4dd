package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}

import scala.util.{Failure, Success}

/** The one artifact writer of the harness mains (`Bench`, `CatalogBench`,
  * `Verify`): Jackson trees written compact, on one line.
  *
  * Members keep their insertion order. Jackson escapes quotes, backslashes
  * and control characters in strings, so error text and builder-authored SQL
  * stay loadable. A non-finite double renders as `null`: a bare `NaN` or
  * `Infinity` token makes the whole document unparseable. A failed bench
  * section (a `Failure`) renders as `{"error": …}` in its place.
  */
object Json {
  private val mapper = new ObjectMapper()
  private val nodes = JsonNodeFactory.instance

  /** An object whose members keep the given order. */
  def obj(members: (String, Any)*): ObjectNode = {
    val o = nodes.objectNode()
    members.foreach { case (k, v) => o.set[JsonNode](k, node(v)) }
    o
  }

  /** Numbers, strings, booleans, `Option` (None is `null`), `Try` (a
    * failure is an error object), sequences and Jackson nodes.
    */
  def node(v: Any): JsonNode = v match {
    case n: JsonNode => n
    case d: Double => if (d.isNaN || d.isInfinite) nodes.nullNode() else nodes.numberNode(d)
    case l: Long => nodes.numberNode(l)
    case i: Int => nodes.numberNode(i)
    case b: Boolean => nodes.booleanNode(b)
    case s: String => nodes.textNode(s)
    case None => nodes.nullNode()
    case Some(x) => node(x)
    case Success(x) => node(x)
    case Failure(t) => error(t)
    case xs: Iterable[_] =>
      val a = nodes.arrayNode()
      xs.foreach(x => a.add(node(x)))
      a
    case other => throw new IllegalArgumentException(s"no JSON form for ${other.getClass}")
  }

  /** A failure's text as the artifacts carry it: its first 200 characters. */
  def errorText(t: Throwable): String = String.valueOf(t).take(200)

  def error(t: Throwable): ObjectNode = obj("error" -> errorText(t))

  def write(n: JsonNode): String = mapper.writeValueAsString(n)
}
