package graft.perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Linear-interpolated quantile (`q` in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail rule: the highest whole percentile `p` (50 to 99) with at
    * least `beyond` samples ranked strictly above its interpolated position
    * `p / 100 * (n - 1)`. Returns `(p, value at p)`. A sample too small to
    * leave `beyond` samples above the median reports the median (p = 50), so
    * the tail is never read off fewer samples than the median. */
  def tail(xs: Seq[Double], beyond: Int = 10): (Int, Double) = {
    require(xs.nonEmpty, "tail of an empty sample")
    val n = xs.size
    val p = (99 to 50 by -1).find(p => p.toLong * (n - 1) < (n - beyond).toLong * 100).getOrElse(50)
    (p, quantile(xs, p / 100.0))
  }
}
