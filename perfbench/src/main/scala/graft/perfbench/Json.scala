package graft.perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Minimal JSON I/O for the benchmark's plan (input) and records (output). */
object Json {
  def parse(path: String): JValue =
    JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))

  def str(v: JValue, k: String): String = (v \ k) match {
    case JString(s) => s
    case other => throw new IllegalArgumentException(s"plan: $k is $other")
  }

  def num(v: JValue, k: String): Double = (v \ k) match {
    case JDouble(d) => d
    case JInt(i) => i.toDouble
    case other => throw new IllegalArgumentException(s"plan: $k is $other")
  }

  def arr(v: JValue, k: String): List[JValue] = (v \ k) match {
    case JArray(xs) => xs
    case other => throw new IllegalArgumentException(s"plan: $k is $other")
  }

  /** Renders Scala values (String, numbers, Boolean, Option, Map, Seq). */
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def writeLines(path: String, lines: Iterable[String]): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }
}
