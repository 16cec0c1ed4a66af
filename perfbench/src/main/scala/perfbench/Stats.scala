package perfbench

/** Order statistics for latency samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest whole percentile P whose nearest-rank sample has at least
    * ten samples above it: rank ⌈P·n/100⌉ ≤ n − 10. Below eleven samples no
    * percentile qualifies and P is 0, the smallest sample. */
  def tailPercentile(n: Int): Int =
    if (n <= 10) 0 else (100 * (n - 10)) / n

  /** Nearest-rank percentile `p` of `xs`. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.max(1, (p * s.length + 99) / 100)
    s(rank - 1)
  }

  /** (percentile, value) of the latency tail, per [[tailPercentile]]. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val p = tailPercentile(xs.length)
    (p, percentile(xs, p))
  }
}
