package graft.perfbench

/** Order statistics for latency samples. */
object Stats {

  /** Percentiles the tail rule may report, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Nearest-rank percentile of an unsorted sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(rankIndex(s.length, p))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** 0-based index of the nearest-rank `p`th percentile among `n` samples. */
  private def rankIndex(n: Int, p: Double): Int =
    math.min(n - 1, math.max(0, math.ceil(p / 100.0 * n).toInt - 1))

  /** The tail a sample can support: the highest ladder percentile with at
    * least `beyond` samples strictly above its rank, with its value. None
    * when even the median has fewer than `beyond` samples past it. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] =
    TailLadder.find(p => xs.length - 1 - rankIndex(xs.length, p) >= beyond)
      .map(p => (p, percentile(xs, p)))
}
