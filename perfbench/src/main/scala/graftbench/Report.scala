package graftbench

/** Minimal JSON writer for the run's result line and span file. */
object Json {
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => value(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"no JSON form for $other")
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Order statistics the benchmark reports. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100 * s.length).toInt - 1)))
  }

  private val TailLadder = Seq(99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 67.0, 50.0)

  /** The highest percentile of the ladder that leaves at least ten
    * samples above it, and its value; the maximum when no rung does
    * (fewer than 20 samples), reported as percentile 100. */
  def tail(xs: Seq[Double]): (Double, Double) =
    TailLadder.find(p => xs.count(_ > percentile(xs, p)) >= 10)
      .map(p => (p, percentile(xs, p)))
      .getOrElse((100.0, xs.max))
}

/** What one workload run measured. Metric maps hold (value, unit). */
final case class RunResult(
    attempted: Long,
    failed: Long,
    correct: Boolean,
    endToEnd: Seq[(String, Double, String)],
    perLayer: Seq[(String, Double, String)],
    details: Map[String, Any])
