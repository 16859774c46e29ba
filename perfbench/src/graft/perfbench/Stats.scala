package graft.perfbench

/** Summaries over the samples of one run. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** The highest percentile that still has at least ten samples above
    * it: the value with exactly ten larger samples, and that percentile
    * (100·(n−10)/n). Needs at least 11 samples. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.length >= 11, s"a tail needs at least 11 samples, got ${xs.length}")
    val s = xs.sorted
    val n = s.length
    (s(n - 11), 100.0 * (n - 10) / n)
  }
}
