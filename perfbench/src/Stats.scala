package graft.perfbench

/** Order statistics the harness reports. */
object Stats {

  /** Median of a non-empty sample (mean of the two middle values when
    * the count is even). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that still has at least ten samples beyond
    * it: the 11th-largest sample, reported with its percentile
    * `100 * (n - 10) / n`. With 20 or fewer samples that percentile is
    * not above the median, so the median over passes of each pass's
    * slowest operation stands in and the percentile reads 100; the
    * sample count is reported beside it. */
  def tail(passes: Seq[Seq[Double]]): (Double, Double) = {
    val s = passes.flatten.sorted
    val n = s.length
    require(n > 0, "tail of an empty sample")
    if (n <= 20) (median(passes.filter(_.nonEmpty).map(_.max)), 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }
}
