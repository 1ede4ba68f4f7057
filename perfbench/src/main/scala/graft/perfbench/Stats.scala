package graft.perfbench

/** The summary statistics the benchmark reports. */
object Stats {
  def median(xs: Iterable[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.toIndexedSeq.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Tail of a latency sample: the highest percentile that still has at
    * least ten samples beyond it, i.e. the 11th-largest sample, which sits
    * at percentile 100·(n−10)/n. Returns (value, percentile); None when
    * there are fewer than 11 samples, so no percentile qualifies. */
  def tail(xs: Iterable[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.toIndexedSeq.sorted
      Some((s(s.length - 11), 100.0 * (s.length - 10) / s.length))
    }
}
