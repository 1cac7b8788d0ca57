package perfbench

/** Order statistics over timing samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank quantile, `p` in [0, 100]. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.min(s.length - 1, math.ceil(p / 100 * s.length).toInt - 1)))
  }

  /** The highest whole percentile that still has at least 10 samples
    * above it, with its value; None below 20 samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    (99 to 50 by -1).find(p => xs.count(_ > quantile(xs, p)) >= 10)
      .map(p => p -> quantile(xs, p))
}
