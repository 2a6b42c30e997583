package graft.linkbench

/** Sample statistics used by the benchmark's reports. */
object Stats {

  /** Nearest-rank percentile (p in (0, 100]) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0.0 && p <= 100.0)
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** The highest of `candidates` that leaves at least `beyond` samples
    * strictly above it, with its value; None when even the lowest does not. */
  def tailPercentile(xs: Seq[Double], beyond: Int = 10,
      candidates: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)): Option[(Double, Double)] =
    candidates.sorted.reverse.iterator.map(p => p -> percentile(xs, p))
      .find { case (_, v) => xs.count(_ > v) >= beyond }

  /** Largest over median of task times (1.0 for a single task). */
  def skew(times: Seq[Double]): Double = {
    val m = median(times)
    if (m <= 0.0) 1.0 else times.max / m
  }
}
