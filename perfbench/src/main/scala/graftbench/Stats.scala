package graftbench

/** Order statistics for latency samples.
  *
  * A timing is reported as its median and the highest percentile that still
  * has at least [[MinBeyond]] samples above it, together with the sample
  * count: a p90 over 30 samples rests on three values and says little. */
object Stats {
  val MinBeyond = 10
  val Candidates: Seq[Int] = Seq(99, 95, 90, 75, 50)

  final case class Summary(n: Int, p50: Double, highPct: Int, high: Double)

  /** Nearest-rank percentile: the smallest sample with at least `p`% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  /** The middle sample, or the mean of the two middle samples. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples strictly above the nearest-rank `p`th percentile. */
  def beyond(n: Int, p: Int): Int = n - rank(n, p)

  /** Median, plus the highest candidate percentile with at least
    * [[MinBeyond]] samples beyond it; with fewer than 2 × MinBeyond samples
    * no percentile qualifies and the median stands in. */
  def summarize(xs: Seq[Double]): Summary = {
    val hp = Candidates.find(p => beyond(xs.size, p) >= MinBeyond).getOrElse(50)
    Summary(xs.size, median(xs), hp, if (hp == 50) median(xs) else percentile(xs, hp))
  }

  private def rank(n: Int, p: Int): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)
}
