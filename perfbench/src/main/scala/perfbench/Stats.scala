package perfbench

/** Order statistics over latency samples. */
object Stats {

  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = xs.sorted
    val pos = p / 100.0 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Samples that lie strictly beyond the `p`-th percentile's rank. */
  def samplesBeyond(n: Int, p: Double): Int =
    n - math.ceil(p / 100.0 * n).toInt

  /** The `p`-th percentile, reported only when at least `minBeyond`
    * samples lie beyond it; a tail percentile read from fewer samples
    * is one or two outliers, not a percentile. */
  def tail(xs: Seq[Double], p: Double, minBeyond: Int = 10): Option[Double] =
    if (xs.nonEmpty && samplesBeyond(xs.size, p) >= minBeyond)
      Some(percentile(xs, p))
    else None
}
