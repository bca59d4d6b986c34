package graft.perfbench

/** The benchmark's arithmetic: quantiles, the tail-percentile rule,
  * interval unions and span self time. Pure functions, unit-tested in
  * StatsSpec. Times are in nanoseconds unless a name says otherwise. */
object Stats {

  /** Quantile `q` in [0, 1] of `xs`, linearly interpolated between
    * order statistics (the default of numpy and R type 7). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Candidate tail percentiles, highest first, in tenths of a percent. */
  val TailPermille: Seq[Int] = Seq(999, 990, 950, 900)

  /** Samples that lie strictly beyond the `permille` percentile of `n`:
    * the ones ranked after the first ceil(n × permille / 1000). */
  def samplesBeyond(n: Int, permille: Int): Int =
    n - ((n.toLong * permille + 999) / 1000).toInt

  /** The highest tail percentile with at least ten samples beyond it,
    * in tenths of a percent, or None when even p90 has fewer. */
  def tailPermille(n: Int): Option[Int] =
    TailPermille.find(p => samplesBeyond(n, p) >= 10)

  /** Total length covered by a set of possibly overlapping intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Length of [lo, hi) that none of `intervals` covers. */
  def uncovered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long =
    (hi - lo) - unionLength(intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) })

  /** One traced interval. `parent` is the id of the span that caused it
    * (0 for a root); spans of one op share `op`. */
  final case class Span(id: Long, parent: Long, op: Long, name: String,
      layer: String, start: Long, end: Long)

  /** A span's duration minus the part of it its children cover. */
  def selfTime(span: Span, children: Seq[Span]): Long =
    uncovered(span.start, span.end, children.map(c => (c.start, c.end)))

  /** Self time summed per layer over a span forest. */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupMapReduce(_.layer)(s => selfTime(s, kids.getOrElse(s.id, Nil)))(_ + _)
  }
}
