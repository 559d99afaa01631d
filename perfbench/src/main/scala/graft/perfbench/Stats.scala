package graft.perfbench

/** Order statistics used for every reported latency. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Geometric mean: every sample weighs the same in relative terms, so
    * a short op that doubles moves it as much as a long one. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Nearest-rank percentile: the smallest sample with at least a `p`
    * share of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 1, s"percentile share $p outside (0, 1]")
    val s = xs.sorted
    s(math.max(1, math.ceil(p * s.size - 1e-9).toInt) - 1)
  }

  /** A tail latency: the percentile it was read at and the sample count
    * it was read from. */
  final case class Tail(percentile: Double, value: Double, samples: Int)

  /** The highest percentile on a 5 % grid that still leaves at least
    * `beyond` samples above its nearest rank. The grid keeps the chosen
    * percentile fixed while the sample count of a time-bounded run moves
    * by a few. None when there are not enough samples for any percentile
    * at or above the median. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val n = xs.size
    if (n < 2 * beyond) return None
    val grid = (50 to 99 by 5).map(_ / 100.0).reverse
    grid.find(p => n - math.ceil(p * n - 1e-9).toInt >= beyond)
      .map(p => Tail(p * 100, percentile(xs, p), n))
  }
}
