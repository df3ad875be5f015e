package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** Minimal JSON in and out: plans are read with Jackson, results are
  * written from plain Scala maps, sequences and numbers. */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): JsonNode =
    mapper.readTree(new java.io.File(path))

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  def render(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(sb, x)
    case s: String => quote(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d.toString)
    case f: Float => write(sb, f.toDouble)
    case n: Number => sb.append(n.toString)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        quote(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x =>
        if (!first) sb.append(',')
        first = false
        write(sb, x)
      }
      sb.append(']')
    case arr: Array[_] => write(sb, arr.toSeq)
    case other => quote(sb, other.toString)
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}
