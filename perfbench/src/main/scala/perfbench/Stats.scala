package perfbench

/** Percentiles and a minimal JSON writer (the result file and the
  * last stdout line are JSON; no JSON library is on the engine's
  * classpath that is meant for application use). */
object Stats {

  /** Linear-interpolated percentile, q in [0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** The tail rule: the highest percentile with at least `beyond`
    * samples above it, from the fixed ladder p99 > p95 > p90 > p75.
    * Returns (quantile, value), or None when even p75 lacks support. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] =
    Seq(0.99, 0.95, 0.90, 0.75)
      .find(q => xs.size * (1 - q) >= beyond)
      .map(q => q -> percentile(xs, q))

  /** JSON rendering of nested Maps / Seqs / numbers / strings. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Option[_] => o.map(json).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
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
}

