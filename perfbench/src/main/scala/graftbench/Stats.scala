package graftbench

/** Order statistics and a minimal JSON writer (the harness adds no
  * dependencies beyond what graft already builds against). */
object Stats {

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The p90 the benchmark reports: the 90th percentile when at least
    * ten samples lie beyond it, otherwise the highest percentile that
    * still has ten beyond it (the median at the least). */
  def tailPercentile(xs: Seq[Double]): Double = {
    val n = xs.size
    quantile(xs, math.max(0.5, math.min(0.9, (n - 10).toDouble / n)))
  }

  /** Least-squares fit y = a + b·x; returns (a, b). */
  def linearFit(xs: Seq[Double], ys: Seq[Double]): (Double, Double) = {
    val n = xs.size
    if (n < 2) return (ys.headOption.getOrElse(0.0), 0.0)
    val mx = mean(xs); val my = mean(ys)
    val sxx = xs.map(x => (x - mx) * (x - mx)).sum
    val b = if (sxx == 0) 0.0 else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
    (my - b * mx, b)
  }
}

/** JSON values, rendered compactly. Numbers keep every digit. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
