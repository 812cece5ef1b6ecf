package graft.perfbench

/** One traced interval. Kinds nest op > build|action > job > stage; `parent`
  * is the id of the enclosing span, 0 for an op. Times are epoch µs. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startUs: Long, endUs: Long) {
  def durationUs: Long = endUs - startUs
}

/** The benchmark's own statistics. Pure functions, so the tests can pin the
  * rules the reported numbers rest on. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p < 1), reported only when at least
    * `minBeyond` samples lie strictly above its rank: a tail figure resting
    * on fewer samples is one slow op, not a percentile. */
  def percentile(xs: Seq[Double], p: Double, minBeyond: Int = 10): Option[Double] = {
    require(p > 0 && p < 1, s"percentile rank $p outside (0, 1)")
    val s = xs.sorted
    val rank = math.ceil(p * s.length).toInt // 1-based
    if (s.isEmpty || s.length - rank < minBeyond) None else Some(s(rank - 1))
  }

  /** Length of the union of `intervals`, each clipped to [lo, hi]. Overlaps
    * count once, so concurrent jobs do not add up to more than the wall. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Self time of every span: its duration minus the part of its own
    * interval that its direct children cover (children may overlap each
    * other and may overrun the parent; neither is counted twice). */
  def selfTimeUs(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(
        children.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs)),
        s.startUs, s.endUs)
      s.id -> (s.durationUs - covered)
    }.toMap
  }
}
