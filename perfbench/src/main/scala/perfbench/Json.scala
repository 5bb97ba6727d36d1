package perfbench

import java.util.Locale

/** Minimal JSON writer for the benchmark's own artifacts. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt)))
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ": " + value(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = kv.map { case (k, x) => str(k) + ": " + value(x) }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",\n", "]")
}

object Stats {
  /** Linear-interpolation quantile, q in [0, 1]; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
