package crawlbench

/** Order statistics the benchmark reports. */
object Stats {

  /** Linear-interpolated quantile (0 ≤ q ≤ 1) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A timing reported as a percentile together with the sample it rests on. */
  final case class Reported(percentile: Int, value: Double, samples: Int)

  /** The highest of `candidates` (percentiles, ascending; 999 is p99.9) that leaves at
   * least `tail` samples above it, with its value; the median when even the
   * median has fewer than `tail` samples beyond it. With 20 samples and
   * tail 10 that is the median, with 100 samples p90. */
  def highestSupported(xs: Seq[Double], tail: Int = 10,
      candidates: Seq[Int] = Seq(50, 90, 99, 999)): Reported = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val n = xs.size.toLong
    def perMille(p: Int): Long = if (p >= 100) p.toLong else p * 10L
    // samples above the percentile's rank: n - ceil(n * p), in integers
    def beyond(p: Int): Long = n - (n * perMille(p) + 999) / 1000
    val p = candidates.filter(beyond(_) >= tail).lastOption.getOrElse(50)
    val frac = perMille(p) / 1000.0
    Reported(p, quantile(xs, frac), xs.size)
  }
}
