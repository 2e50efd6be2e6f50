package perfbench

/** Summary statistics the benchmark reports. */
object Stats {

  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples needed beyond a reported percentile before it means
    * anything: fewer than ten and the "tail" is one or two outliers. */
  val MinBeyond = 10

  /** The `p`-th percentile (p in (0, 100)), or None when fewer than
    * [[MinBeyond]] samples lie strictly beyond it. */
  def tailPercentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 100, s"percentile must be in (0, 100), got $p")
    if (xs.isEmpty) None
    else {
      val v = quantile(xs, p / 100)
      if (xs.count(_ > v) >= MinBeyond) Some(v) else None
    }
  }

  /** The highest whole percentile (above the median) that still has
    * [[MinBeyond]] samples beyond it, with its value. */
  def highestTail(xs: Seq[Double]): Option[(Int, Double)] =
    (99 to 51 by -1).iterator.flatMap(p => tailPercentile(xs, p).map(p -> _)).nextOption()
}
