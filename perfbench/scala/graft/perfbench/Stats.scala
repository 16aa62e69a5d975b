package graft.perfbench

/** Order statistics and interval arithmetic the benchmark reports with. */
object Stats {

  /** Quantile by linear interpolation between closest ranks (q in [0, 1]):
    * the median of an even-sized sample is the mean of its middle pair. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0 && q <= 1, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (pos - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Task skew as DS2 (ICDE 2021) reads it: the slowest task over the median
    * task. 1.0 means perfectly even tasks; work stealing pays when it is high. */
  def skew(taskMs: Seq[Double]): Double = {
    val m = median(taskMs)
    if (m <= 0) 1.0 else taskMs.max / m
  }

  /** Length of the union of `intervals` clipped to [start, end). */
  def coverage(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    covered
  }

  /** A span's self time: its duration minus the part its children cover.
    * Overlapping children (parallel Spark jobs) are counted once. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - coverage(start, end, children)
}
