package graftbench

/** Pure statistics helpers: percentiles, the reportable-tail rule and
  * the interval arithmetic behind job wall time and driver gap.
  */
object Stats {

  /** Nearest-rank percentile `p` (0 < p <= 100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.max(rank, 1) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Tail percentiles a timing may report, lowest first. */
  val TailPercentiles: Seq[Double] = Seq(90, 99, 99.9)

  /** The highest tail percentile that leaves at least ten samples above
    * it in `n` samples, if any: a tail read from fewer than ten samples
    * is one unlucky sample, not a percentile.
    */
  def reportableTail(n: Int): Option[Double] =
    TailPercentiles.filter(p => n * (100.0 - p) / 100.0 >= 10.0 - 1e-9)
      .lastOption

  /** Total length covered by half-open intervals `[start, end)`,
    * overlaps counted once.
    */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curEnd) {
          if (curEnd > curStart) total += curEnd - curStart
          curStart = s
          curEnd = e
        } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** `intervals` clipped to `[lo, hi)`; intervals outside vanish. */
  def clip(intervals: Seq[(Long, Long)], lo: Long,
           hi: Long): Seq[(Long, Long)] =
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }

  /** Wall time of `[lo, hi)` not covered by any of `intervals`: for a
    * span and its jobs, the time the driver worked with no job running.
    */
  def gap(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long =
    (hi - lo) - unionLength(clip(intervals, lo, hi))
}
