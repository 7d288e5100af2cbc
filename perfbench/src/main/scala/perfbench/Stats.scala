package perfbench

/** Order statistics and the small JSON writer the result lines use. */
object Stats {

  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of `xs` (0 when `xs` is empty). */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest whole percentile that still leaves at least 10 samples
    * beyond it (p94 at n = 196), floored at p50 for small samples. */
  def tailPercentile(n: Int): Int =
    if (n <= 20) 50 else math.max(50, math.floor(100.0 * (n - 10) / n).toInt)

  /** (percentile, value) of the tail statistic over `xs`. */
  def tail(xs: collection.Seq[Double]): (Int, Double) = {
    val p = tailPercentile(xs.length)
    (p, quantile(xs, p / 100.0))
  }

  /** Mean of the last third over the mean of the first third. */
  def slope(xs: collection.Seq[Double]): Double =
    if (xs.length < 3) 1.0
    else {
      val k = xs.length / 3
      (xs.takeRight(k).sum / k) / (xs.take(k).sum / k)
    }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
