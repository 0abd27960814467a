package ragbench

/** Order statistics with the reporting rule of the benchmark: a percentile
  * is reported only when at least `MinBeyond` samples lie beyond it. */
object Stats {
  val MinBeyond = 10

  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Samples strictly beyond the p-th percentile of n samples. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p * n - 1e-9).toInt

  def supported(n: Int, p: Double): Boolean = beyond(n, p) >= MinBeyond

  /** The p-th percentile, or None when the sample is too small to support it. */
  def reportable(xs: Seq[Double], p: Double): Option[Double] =
    if (supported(xs.length, p)) Some(percentile(xs, p)) else None

  /** The highest of the usual tail percentiles the sample supports. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(0.99, 0.95, 0.9, 0.75, 0.5).find(supported(xs.length, _)).map(p => (p, percentile(xs, p)))
}
