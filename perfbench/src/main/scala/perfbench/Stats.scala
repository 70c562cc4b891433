package perfbench

/** Order statistics used by the reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(s.length, math.max(1, rank)) - 1)
  }

  /** Candidate tail percentiles, highest first. */
  val TailPercentiles: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest candidate percentile that still has at least `beyond`
    * samples strictly above its rank, with its value; None when even the
    * median has fewer. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] =
    TailPercentiles.find { p =>
      val rank = math.max(1, math.ceil(p / 100.0 * xs.length).toInt)
      xs.length - rank >= beyond
    }.map(p => p -> percentile(xs, p))
}
