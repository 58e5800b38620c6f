package perfbench

/** Order statistics the benchmark reports. */
object Stats {
  /** Percentiles the tail rule may choose from, ascending. */
  val TailPercentiles: Seq[Double] = Seq(50, 75, 90, 95, 99, 99.9)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p <= 100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100 * s.size).toInt
    s(math.min(s.size, math.max(1, rank)) - 1)
  }

  /** The highest percentile of [[TailPercentiles]] that leaves at least
    * `beyond` samples above its rank, or None when even the median does not.
    * Returns (percentile, value). */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] =
    TailPercentiles.reverse
      .find(p => xs.size - math.ceil(p / 100 * xs.size).toInt >= beyond)
      .map(p => (p, percentile(xs, p)))

  def maxOverMedian(xs: Seq[Double]): Double = {
    val m = median(xs)
    if (m <= 0) 1.0 else xs.max / m
  }
}
