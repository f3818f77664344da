package graft.perfbench

/** Order statistics the report uses. Percentiles are nearest-rank, so a
  * reported value is always one that was measured.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }

  /** Nearest-rank percentile: the smallest sample with at least `p` of
    * the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0.0 && p <= 1.0, s"percentile $p outside (0, 1]")
    val s = xs.sorted
    s(rank(s.length, p) - 1)
  }

  private def rank(n: Int, p: Double): Int = math.max(1, math.ceil(p * n - 1e-9).toInt)

  /** Samples strictly beyond the nearest-rank `p` percentile of `n`. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The percentiles a tail may be reported at. */
  val Ladder: Seq[Double] = Seq(0.5, 0.75, 0.8, 0.9, 0.95, 0.99, 0.999)

  /** The highest ladder percentile that leaves at least `minBeyond`
    * samples above it, or None when even the median does not.
    */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    Ladder.filter(p => beyond(n, p) >= minBeyond).lastOption
}
