package shopbench

/** Summary statistics used for every reported timing. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of the
    * samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100)
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.length).toInt - 1))
  }

  /** Candidate tail percentiles, highest first. */
  val TailCandidates: Seq[Int] = Seq(99, 95, 90, 75, 50)

  /** The highest candidate percentile with at least ten samples strictly
    * above its rank, as (percentile, value); None with fewer than 11 samples.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    TailCandidates.find { p =>
      val rank = math.max(1, math.ceil(p / 100.0 * xs.length).toInt)
      xs.length - rank >= 10
    }.map(p => p -> percentile(xs, p))
}
