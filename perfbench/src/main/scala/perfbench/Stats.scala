package perfbench

object Stats {
  /** Samples that must lie strictly beyond a reported percentile. */
  val MinBeyond = 10

  /** The q-th percentile (0 < q < 1, nearest rank) of `xs`, or None when
    * fewer than [[MinBeyond]] samples lie above it — a p90 needs at
    * least 100 samples, a p50 at least 20.
    */
  def percentile(xs: Seq[Double], q: Double): Option[Double] = {
    require(q > 0 && q < 1, s"percentile $q")
    val n = xs.length
    val rank = math.ceil(q * n).toInt // 1-based nearest rank
    if (n == 0 || n - rank < MinBeyond) None
    else Some(xs.sorted.apply(rank - 1))
  }

  /** The median of any non-empty sample (no tail requirement: used for
    * the handful of long calls a batch workload fits in one run).
    */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
