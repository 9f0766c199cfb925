package graftbench

/** Order statistics over one run's samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail the benchmark reports: the highest percentile that still
    * has at least ten samples beyond it, as (percentile, value, samples).
    * With eleven or fewer samples no percentile qualifies, and the
    * maximum is reported as percentile 100. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n <= 11) (100.0, s.last, n)
    else {
      val idx = n - 11 // exactly ten samples lie above s(idx)
      (100.0 * (idx + 1) / n, s(idx), n)
    }
  }
}
