package perfbench

/** Order statistics shared by every workload. */
object Stats {

  /** Linear-interpolated percentile (q in [0, 100]) of unsorted samples. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.length - 1) * q / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Percentile ladder the tail metrics pick from. */
  val Ladder: Seq[Double] = Seq(50, 75, 90, 95, 99, 99.9, 99.99)

  /** "Tail" = the highest ladder percentile that still has at least 10
    * samples beyond it. Returns (percentile, value, sample count). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.length
    val q = Ladder.filter(p => n * (1 - p / 100.0) >= 10).lastOption.getOrElse(50.0)
    (q, pct(xs, q), n)
  }
}
