package perfbench

/** Order statistics and interval arithmetic the metrics are built from. */
object Stats {

  /** Samples that must lie strictly beyond a tail percentile before it is
    * reported: fewer, and the percentile is one or two unlucky samples. */
  val MinBeyondTail = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, q in (0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty && q > 0 && q <= 1, s"percentile $q of ${xs.size} samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.length).toInt - 1))
  }

  /** The q-th percentile, or None unless at least [[MinBeyondTail]]
    * samples lie strictly above it. */
  def tailPercentile(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.isEmpty) None
    else {
      val p = percentile(xs, q)
      if (xs.count(_ > p) >= MinBeyondTail) Some(p) else None
    }

  /** Total length covered by a set of possibly overlapping intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curEnd.isNaN || s > curEnd) {
        if (!curEnd.isNaN) total += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (!curEnd.isNaN) total += curEnd - curStart
    total
  }

  /** Time inside the window [start, end] not covered by any of the
    * intervals: each interval is clipped to the window first, so jobs that
    * overlap each other or stick out of the window never drive it below 0. */
  def uncovered(start: Double, end: Double, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    math.max(0.0, (end - start) - unionLength(clipped))
  }
}
