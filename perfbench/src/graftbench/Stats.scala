package graftbench

/** Order statistics over latency samples, and the tail rule the benchmark
  * reports: the highest percentile (from a fixed ladder) that still has at
  * least ten samples beyond it.
  */
object Stats {

  def median(xs: scala.collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "exclusive" rule is not needed: the
    * comparisons here are medians and a rank-checked tail).
    */
  def quantile(xs: scala.collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private val Ladder = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** (percentile, value): the highest ladder percentile p with at least
    * ten samples strictly above rank p; the median when there are too few
    * samples for any higher rung.
    */
  def tail(xs: scala.collection.Seq[Double]): (Double, Double) = {
    val n = xs.size
    val p = Ladder.find(p => n * (1.0 - p / 100.0) >= 10.0).getOrElse(50.0)
    (p, quantile(xs, p / 100.0))
  }

  /** "p50", "p99.9": the name of a percentile. */
  def pname(p: Double): String =
    "p" + (if (p == math.rint(p)) p.toLong.toString else p.toString)

  def mean(xs: scala.collection.Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** A tiny JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans, options).
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
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
    b += '"'
    b.toString
  }
}
