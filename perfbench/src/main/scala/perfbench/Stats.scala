package perfbench

import scala.collection.mutable

/** Order statistics and a minimal JSON writer. */
object Stats {

  /** Nearest-rank percentile, p in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** The highest percentile that leaves at least 10 samples above it:
    * p = 1 - 10 / n, floored to whole percent (p66 at 30 samples, p79 at
    * 48). Below 20 samples no percentile above the median has 10 samples
    * beyond it, and the median is returned. Returns (percentile, value).
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val p = math.max(50,
      math.floor(100.0 * (1.0 - 10.0 / math.max(1, xs.size))).toInt)
    (p, pct(xs, p / 100.0))
  }

  /** A metric as printed: value plus unit. */
  final case class M(value: Double, unit: String)

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case M(value, unit) => json(mutable.LinkedHashMap(
      "value" -> value, "unit" -> unit))
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case xs: Array[_] => json(xs.toSeq)
    case o => quote(o.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
