package graft.perfbench

/** Order statistics used for every reported latency. */
object Stats {

  /** Samples that must lie strictly beyond a reported percentile. A p90
    * over fewer than 100 samples rests on a handful of points, so it is
    * not reported at all. */
  val MinBeyond = 10

  /** Nearest-rank percentile (`p` in (0, 1]) of `xs`, or None when fewer
    * than [[MinBeyond]] samples lie beyond the rank that answers it. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p <= 1, s"percentile wants p in (0, 1], got $p")
    if (xs.isEmpty) return None
    val sorted = xs.sorted
    val rank = math.ceil(p * sorted.size).toInt.max(1) // 1-based
    if (sorted.size - rank < MinBeyond) None else Some(sorted(rank - 1))
  }

  /** Median (mean of the middle pair for even sizes); NaN when empty. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}
