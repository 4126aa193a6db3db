package perfbench

/** Order statistics used by every reported figure. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of range")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.max(rank, 1) - 1)
  }

  /** Samples that lie strictly beyond the nearest-rank `p`th percentile. */
  def beyond(n: Int, p: Int): Int = n - math.max(math.ceil(p / 100.0 * n).toInt, 1)

  /** The tail percentile a sample set can support: the highest `p` up to
    * `cap` with at least `minBeyond` samples beyond it, or None when even
    * the median has fewer than that many beyond it. With 100 samples
    * this is p90; with 50 it is p80; with 20 or fewer there is none.
    */
  def tailPercentile(n: Int, cap: Int = 90, minBeyond: Int = 10): Option[Int] =
    (cap to 50 by -1).find(p => beyond(n, p) >= minBeyond)
}
