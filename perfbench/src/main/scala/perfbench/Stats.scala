package perfbench

/** Order statistics used by every workload's report. */
object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (pos - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)

  /** Candidate tail percentiles, highest first. */
  val TailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The tail rule: the highest candidate percentile that still has at
    * least `beyond` samples above it, i.e. n * (1 - p/100) >= beyond.
    * Below 2 * beyond samples only the median qualifies, and it is the
    * fallback for any smaller sample. */
  def tailPercentile(n: Int, beyond: Int = 10): Double =
    TailCandidates.find(p => n * (1 - p / 100.0) >= beyond - 1e-9).getOrElse(50.0)

  /** (percentile chosen, its value). */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) = {
    val p = tailPercentile(xs.size, beyond)
    (p, pct(xs, p))
  }
}
