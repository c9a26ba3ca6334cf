package perfbench

object Stats {
  /** Linearly interpolated quantile of an ascending sequence. */
  def quantile(sorted: Seq[Double], q: Double): Double = {
    val pos = q * (sorted.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, sorted.size - 1)
    sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)
}
