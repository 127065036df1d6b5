package perfbench

/** Order statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    xs.sum / xs.size
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"bad percentile p$p of ${xs.size}")
    val s = xs.sorted
    s(math.ceil(s.size * p / 100.0).toInt - 1)
  }

  /** Samples ranked above the nearest-rank `p`th percentile of `n`. */
  def beyond(n: Int, p: Int): Int = n - math.ceil(n * p / 100.0).toInt

  /** Samples a reported tail percentile must leave beyond it. */
  val MinBeyond = 10

  /** The percentiles a tail is reported at, highest first. */
  val Ladder: Seq[Int] = Seq(99, 95, 90, 75, 50)

  /** The highest percentile of [[Ladder]] that leaves at least
    * [[MinBeyond]] samples beyond it, or None when even p50 does not.
    */
  def tailPercentile(n: Int): Option[Int] = Ladder.find(p => beyond(n, p) >= MinBeyond)

  /** The tail of `xs` as (percentile, value), only when the rule picks a
    * percentile above the median: a p50 tail would repeat the median.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    tailPercentile(xs.size).filter(_ > 50).map(p => p -> percentile(xs, p))
}
