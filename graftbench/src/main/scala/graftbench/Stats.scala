package graftbench

/** A percentile as reported: its value, the sample count it came from,
 *  and how many samples lie beyond it. */
final case class Quantile(p: Double, value: Double, n: Int, beyond: Int)

object Stats {

  /** A tail percentile is only reported with at least this many samples
   *  beyond it; fewer would make it the reading of a handful of outliers. */
  val MinBeyond = 10

  /** The median; for an even count, the mean of the two middle samples. */
  def median(xs: Seq[Double]): Quantile = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    val v = if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    Quantile(0.5, v, n, n / 2)
  }

  /** Nearest-rank percentile `p` in (0, 1). */
  def percentile(xs: Seq[Double], p: Double): Quantile = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p < 1, s"percentile must lie in (0, 1), got $p")
    val s = xs.sorted
    val rank = math.ceil(p * s.size).toInt.max(1)
    Quantile(p, s(rank - 1), s.size, s.size - rank)
  }

  /** A tail percentile that refuses to exist on too few samples. */
  def tail(xs: Seq[Double], p: Double): Quantile = {
    val q = percentile(xs, p)
    if (q.beyond < MinBeyond) throw new IllegalStateException(
      f"p${p * 100}%.0f over ${q.n} samples has ${q.beyond} beyond it; " +
        s"at least $MinBeyond are needed, so run longer")
    q
  }
}
