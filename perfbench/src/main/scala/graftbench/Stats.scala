package graftbench

/** The order statistics and span arithmetic the benchmark reports. */
object Stats {

  /** Percentile `p` (in [0, 1]) by linear interpolation between the two
    * closest ranks, at position p·(n−1) of the sorted samples — so the
    * median of an even count is the mean of the middle two.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 1, s"percentile rank out of [0, 1]: $p")
    val s = xs.sorted.toIndexedSeq
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** A percentile is reported only when at least ten samples lie beyond
    * it; otherwise its value is one or two samples, not a tail.
    */
  def tailSupported(n: Int, p: Double): Boolean = n * (1 - p) >= 10 - 1e-9

  /** Length of the part of [start, end) covered by the union of the
    * `children` intervals, each clipped to [start, end).
    */
  def covered(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val cs = children
      .map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = 0L
    var curB = Long.MinValue
    cs.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a
        curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part its children cover. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - covered(start, end, children)
}
