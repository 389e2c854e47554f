package perfbench

import scala.jdk.CollectionConverters._

/** Minimal JSON for the result line and the run records. */
object Json {
  def encode(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + encode(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(encode).mkString("[", ",", "]")
    case m: java.util.Map[_, _] => encode(m.asScala)
    case xs: java.util.List[_] => encode(xs.asScala)
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** A JSON object's top level, values as Jackson reads them. */
  def parseObject(s: String): Map[String, Any] =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(s, classOf[java.util.Map[String, Object]]).asScala.toMap
}
