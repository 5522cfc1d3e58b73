package perfbench

/** Order statistics used for every reported timing. Only medians and
  * upper percentiles are reported: a minimum hides warm-up and
  * contention, which is exactly what the benchmark must show.
  */
object Stats {

  /** Linear-interpolated quantile (numpy's default), `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Candidate tail percentiles, highest first. */
  val ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest ladder percentile that leaves at least ten samples
    * above it in a sample of `n`; p50 when none does.
    */
  def tailPercentile(n: Int): Double =
    ladder.find(p => n * (100.0 - p) / 100.0 >= 10 - 1e-9).getOrElse(50.0)
}
