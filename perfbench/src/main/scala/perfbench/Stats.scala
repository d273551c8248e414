package perfbench

/** Order statistics and span arithmetic used by the harness. */
object Stats {

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Percentile by linear interpolation between the closest ranks, so
    * p50 is the median. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p / 100.0 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (pos - lo) * (s(hi) - s(lo))
  }

  /** The highest percentile that leaves at least ten of `n` samples
    * beyond it (p75 of 40, p99 of 1000); the median when fewer than 20
    * samples leave no percentile above it with ten beyond. */
  def tailPercentile(n: Int): Double =
    if (n >= 20) 100.0 * (1 - 10.0 / n) else 50.0

  /** Length of the union of half-open intervals. */
  def covered(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (curStart.isNaN || a > curEnd) {
        if (!curStart.isNaN) total += curEnd - curStart
        curStart = a; curEnd = b
      } else curEnd = math.max(curEnd, b)
    }
    if (!curStart.isNaN) total += curEnd - curStart
    total
  }

  /** A traced interval. `parent` is the id of the span that caused it. */
  final case class Span(id: Long, parent: Long, row: String, kind: String,
                        start: Double, end: Double) {
    def duration: Double = math.max(0.0, end - start)
  }

  /** Self time per span kind: each span's duration minus the part of it
    * that its children cover (children clipped to the parent). */
  def selfTime(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c =>
          (math.max(c.start, s.start), math.min(c.end, s.end)))
        s.duration - covered(kids)
      }.sum
    }
  }
}
