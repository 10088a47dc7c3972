package perfbench

/** Summary statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile `p` (1..100) of `xs`. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p >= 1 && p <= 100, s"percentile $p of ${xs.length} samples")
    val s = xs.sorted
    s(math.max(1, math.ceil(p / 100.0 * s.length).toInt) - 1)
  }

  /** The tail percentile the samples support: the highest percentile, at
    * most 90, that has at least ten samples beyond it. With too few
    * samples for any percentile above the median it is the 50th.
    */
  def tailPercentile(n: Int): Int =
    (90 to 50 by -1).find { p =>
      n - math.max(1, math.ceil(p / 100.0 * n).toInt) >= 10
    }.getOrElse(50)

  /** (percentile, value) of the supported tail of `xs`. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val p = tailPercentile(xs.length)
    (p, percentile(xs, p))
  }
}
