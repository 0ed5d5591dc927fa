package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail latency: the value, its percentile and the samples beyond it. */
  final case class Tail(value: Double, percentile: Double, beyond: Int, samples: Int)

  /** The highest percentile that still has at least `minBeyond` samples
    * above it: rank n - minBeyond of the sorted samples. With too few
    * samples for that, the maximum, with nothing beyond it. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    val rank = n - minBeyond
    if (rank >= 1) Tail(s(rank - 1), 100.0 * rank / n, n - rank, n)
    else Tail(s.last, 100.0, 0, n)
  }
}
