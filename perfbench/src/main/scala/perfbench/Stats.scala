package perfbench

/** Order statistics the benchmark reports. */
object Stats {

  /** Linearly interpolated quantile over the sorted sample (`q` in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** A tail latency with the evidence behind it: `value` is the sample at
    * `percentile`, `beyond` samples of `samples` lie above it. */
  final case class Tail(value: Double, percentile: Double, samples: Int, beyond: Int)

  /** The highest percentile that still has at least `minBeyond` samples
    * beyond it: the (n - minBeyond)-th smallest sample. With too few
    * samples for that to reach the median, the median is the tail. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    val idx = n - 1 - minBeyond
    if (idx < (n - 1) / 2) {
      val m = median(s)
      Tail(m, 50.0, n, s.count(_ > m))
    } else Tail(s(idx), 100.0 * (idx + 1) / n, n, n - 1 - idx)
  }
}
