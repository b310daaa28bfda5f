package perfbench

/** Order statistics for timings. */
object Stats {

  /** Linear-interpolated percentile `p` (0..100) of `xs`; NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Geometric mean: every call weighs the same whatever its size, so a
    * change to a light call moves it as much as one to a heavy call. */
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Percentiles a tail timing may be reported at, highest first. */
  val Ladder: Seq[Double] = Seq(99.9, 99, 95, 90, 75)

  /** The highest percentile of [[Ladder]] that has at least ten samples
    * beyond it out of `n`; None when even p75 has fewer (a tail read from
    * so few samples is one sample, not a percentile). */
  def tailPercentile(n: Int): Option[Double] =
    Ladder.find(p => n * (1 - p / 100.0) >= 10.0 - 1e-9)
}
