package perfbench

import scala.collection.mutable

/** Medians, unit conversions and a minimal JSON writer for the result file. */
object Stats {

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def ms(ns: Long): Double = ns / 1e6
  def sec(ns: Long): Double = ns / 1e9

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Render maps, sequences, strings, booleans and numbers as JSON. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case xs: Array[_] => json(xs.toSeq)
    case other => str(other.toString)
  }

  /** Insertion-ordered string map, the shape every result section uses. */
  def om[V](): mutable.LinkedHashMap[String, V] = mutable.LinkedHashMap.empty[String, V]
}
