package riskbench

/** Latency statistics over the ops of one timed phase. */
object Stats {

  /** Linear-interpolated percentile (`p` in 0..100) of unsorted samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toArray
    val rank = (s.length - 1) * p / 100.0
    val lo = math.floor(rank).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  /** Candidate tail percentiles, highest first. */
  val tailPercentiles: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0)

  /** Samples strictly above a percentile's rank, i.e. ops "beyond" it. */
  def beyond(n: Int, p: Double): Int = n - 1 - math.floor((n - 1) * p / 100.0).toInt

  /** The highest tail percentile that still has at least `floor` ops
   * beyond it, as (percentile, value). None when even the lowest candidate
   * above the median lacks them: such a tail would only restate p50. */
  def tail(xs: Seq[Double], floor: Int = 10): Option[(Double, Double)] =
    tailPercentiles.find(p => beyond(xs.size, p) >= floor)
      .map(p => (p, percentile(xs, p)))
}
