package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Linear-interpolation quantile (the "inclusive" method: q = 0 is the
    * minimum, q = 1 the maximum) of a non-empty sample.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toArray
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Percentiles the tail metric may report, highest first. */
  val TailPercentiles: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest percentile in [[TailPercentiles]] that has at least ten
    * samples beyond it, i.e. `n · (1 − p/100) ≥ 10`; None below 20 samples.
    */
  def tailPercentile(n: Int): Option[Double] =
    TailPercentiles.find(p => n * (100.0 - p) / 100.0 >= 10.0 - 1e-9)

  /** (percentile, value) of the tail of `xs` by the rule above. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    tailPercentile(xs.length).map(p => (p, quantile(xs, p / 100.0)))
}
