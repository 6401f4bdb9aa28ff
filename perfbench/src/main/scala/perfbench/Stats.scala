package perfbench

/** Summary statistics over one run's samples. */
object Stats {

  /** The `p`-th percentile (0..100) of `xs`, linearly interpolated
    * between the two closest ranks (the "linear" method of numpy and of
    * Python's `statistics.quantiles(..., method='inclusive')`). An
    * empty sample has no percentile. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p >= 0 && p <= 100, s"percentile must be in [0, 100], got $p")
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      val rank = p / 100.0 * (s.length - 1)
      val lo = math.floor(rank).toInt
      val hi = math.min(lo + 1, s.length - 1)
      Some(s(lo) + (s(hi) - s(lo)) * (rank - lo))
    }
  }

  def median(xs: Seq[Double]): Option[Double] = percentile(xs, 50)

  def mean(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None else Some(xs.sum / xs.size)

  /** Mean of the slowest `share` of the samples (at least one): a tail
    * figure that, unlike a single high percentile, uses every sample
    * in the tail, so a few requests more or less move it less. */
  def tailMean(xs: Seq[Double], share: Double = 0.1): Option[Double] =
    if (xs.isEmpty) None
    else mean(xs.sorted.takeRight(math.max(1, math.ceil(xs.size * share).toInt)))
}
