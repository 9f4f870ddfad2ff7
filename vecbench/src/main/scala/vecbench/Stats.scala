package vecbench

/** Order statistics for per-operation timings. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(s.length, math.max(1, rank)) - 1)
  }

  /** Percentiles a tail latency may be reported at, highest last. */
  val TailCandidates: Seq[Double] = Seq(50, 75, 90, 95, 99, 99.9)

  /** The highest candidate percentile that has at least `beyond`
    * samples above its rank, with its value; None when even the median
    * has fewer (fewer than 2 × beyond samples). */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val n = xs.length
    TailCandidates.reverse
      .find(p => n - math.ceil(p / 100.0 * n).toLong >= beyond)
      .map(p => (p, percentile(xs, p)))
  }

  /** Whether a timed series is warm: the median of its first half is
    * no more than `tolerance` above the median of its second half. A
    * run that still pays JIT, codegen or cache fill in its timed region
    * fails this. A single sample cannot be judged and passes. */
  def warm(xs: Seq[Double], tolerance: Double): Boolean =
    xs.length < 2 || {
      val (a, b) = xs.splitAt(xs.length / 2)
      median(a) <= median(b) * (1 + tolerance)
    }
}
