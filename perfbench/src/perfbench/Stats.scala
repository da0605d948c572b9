package perfbench

/** Order statistics used by every report. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default); 0 for no samples. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  /** The tail the report uses: the highest whole percentile that still has
    * at least ten samples beyond it when that is p90 or higher (100 samples
    * or more), otherwise the maximum. Returns (value, percentile label).
    */
  def tail(xs: Seq[Double]): (Double, String) = {
    val n = xs.size
    if (n < 100) (if (xs.isEmpty) 0.0 else xs.max, "max")
    else {
      val pct = math.floor(100.0 * (n - 10) / n).toInt
      (quantile(xs, pct / 100.0), s"p$pct")
    }
  }
}
