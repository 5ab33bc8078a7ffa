package perfbench

/** Summary statistics the benchmark reports. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Percentiles the report may quote, highest last. */
  val Percentiles: Seq[Double] = Seq(50, 90, 95, 99, 99.9)

  /** The highest percentile with at least ten samples beyond it, or None
    * when even the median lacks them. A percentile above that rests on
    * fewer than ten samples and is not reported.
    */
  def highestSupported(n: Int): Option[Double] =
    Percentiles.filter(p => n * (1 - p / 100) >= 10 - 1e-9).lastOption

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))
  }

  /** "median 1.234 s (n=8)" plus the highest supported percentile. */
  def describe(xs: Seq[Double], unit: String): String = {
    val tail = highestSupported(xs.size)
      .filter(_ > 50)
      .map(p => f", p$p%.4g ${percentile(xs, p)}%.4f $unit")
      .getOrElse("")
    f"median ${median(xs)}%.4f $unit$tail (n=${xs.size})"
  }
}
