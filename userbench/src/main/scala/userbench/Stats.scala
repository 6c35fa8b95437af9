package userbench

/** Order statistics for the reported timings. */
object Stats {

  /** Linear-interpolated percentile (`p` in [0, 100]) of unsorted values. */
  def percentile(values: Seq[Double], p: Double): Double = {
    require(values.nonEmpty, "percentile of no values")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = values.sorted
    val pos = p / 100.0 * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(values: Seq[Double]): Double = percentile(values, 50)

  /** The tail percentile a sample of `n` supports: the highest whole
    * percentile p with at least `beyond` samples above it, that is
    * n * (100 - p) / 100 >= beyond. None when even the median lacks them. */
  def supportedTail(n: Int, beyond: Int = 10): Option[Int] =
    (50 to 99).filter(p => n.toLong * (100 - p) >= beyond.toLong * 100).lastOption
}
