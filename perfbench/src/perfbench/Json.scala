package perfbench

import scala.collection.immutable.ListMap

/** Just enough JSON to hand a run's results to run.py. */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] = ListMap(kv: _*)

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b @ (_: Boolean | _: Int | _: Long) => b.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
