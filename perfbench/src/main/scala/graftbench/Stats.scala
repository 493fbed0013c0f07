package graftbench

/** Sample statistics for the benchmark's timings.
  *
  * Percentiles use the nearest-rank rule. A percentile is reported
  * only when at least [[MinBeyond]] samples lie beyond it: with fewer,
  * one slow sample decides the number and it says nothing about the
  * tail. */
object Stats {
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** 1-based nearest rank of the p-th percentile among n samples */
  def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** how many of n samples lie strictly beyond the p-th percentile */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(xs.size, p) - 1)
  }

  /** the p-th percentile, or None when fewer than [[MinBeyond]]
    * samples lie beyond it */
  def reportable(xs: Seq[Double], p: Double): Option[Double] =
    if (xs.nonEmpty && beyond(xs.size, p) >= MinBeyond)
      Some(percentile(xs, p))
    else None

  /** A timing as the benchmark reports it: median, sample count and
    * each of p90/p99 that has enough samples beyond it. */
  final case class Timing(n: Int, p50: Double, p90: Option[Double],
      p99: Option[Double])

  def timing(xs: Seq[Double]): Option[Timing] =
    if (xs.isEmpty) None
    else Some(Timing(xs.size, median(xs), reportable(xs, 90),
      reportable(xs, 99)))
}
