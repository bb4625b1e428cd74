package perfbench

/** Order statistics used for every reported timing. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that still has at least `beyond` samples above
    * it, as (percentile, value, sample count). With n sorted samples that is
    * the sample at rank n - beyond (1-based), whose percentile is
    * 100 * (n - beyond) / n. None when there are not more than `beyond`
    * samples. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double, Int)] = {
    val n = xs.length
    if (n <= beyond) None
    else Some((100.0 * (n - beyond) / n, xs.sorted.apply(n - beyond - 1), n))
  }
}
