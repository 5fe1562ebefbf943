package perfbench

/** Summary statistics for latency samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p < 1), or None unless at least
    * `minBeyond` samples lie above the rank: a tail percentile is only
    * reported when enough samples sit in the tail to make it mean
    * something. */
  def percentile(xs: Seq[Double], p: Double, minBeyond: Int = 10): Option[Double] = {
    require(p > 0 && p < 1, s"percentile $p out of (0, 1)")
    val s = xs.sorted
    val rank = math.ceil(p * s.length).toInt // 1-based
    if (s.isEmpty || s.length - rank < minBeyond) None else Some(s(rank - 1))
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }
}
