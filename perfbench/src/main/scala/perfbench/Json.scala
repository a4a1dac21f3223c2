package perfbench

import org.apache.spark.sql.Row

/** Minimal JSON writer for the result file the Python side reads. */
object Json {
  def render(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null => sb.append("null")
    case s: String => quote(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double => if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case n: Number => sb.append(n.toString)
    case m: Map[_, _] =>
      sb.append('{')
      m.toSeq.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(',')
        quote(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case r: Row => write(sb, r.toSeq)
    case s: scala.collection.Seq[_] =>
      sb.append('[')
      s.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); write(sb, x) }
      sb.append(']')
    case other => quote(sb, other.toString)
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  /** Parse the flat params file the generator writes (strings, numbers
    * and lists of them), through the Jackson copy Spark ships. */
  def readParams(path: String): Map[String, Any] = {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    import scala.jdk.CollectionConverters._
    def conv(n: JsonNode): Any =
      if (n.isArray) n.elements().asScala.map(conv).toVector
      else if (n.isIntegralNumber) n.asLong()
      else if (n.isNumber) n.asDouble()
      else n.asText()
    val root = new ObjectMapper().readTree(new java.io.File(path))
    root.fields().asScala.map(e => e.getKey -> conv(e.getValue)).toMap
  }
}
