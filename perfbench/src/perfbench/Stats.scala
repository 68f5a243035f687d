package perfbench

import scala.collection.mutable.ArrayBuffer

/** Summary statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail latency together with the percentile it sits at and how many
    * samples lie beyond it. */
  final case class Tail(value: Double, percentile: Double, beyond: Int, samples: Int)

  /** The highest percentile that still has at least `minBeyond` samples
    * above it: the sample of rank n − minBeyond (1-based). With no more than
    * `minBeyond` samples no percentile qualifies; the maximum is reported
    * then, with `beyond` = 0 so the reader sees the tail is unsupported. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n > minBeyond) {
      val i = n - minBeyond - 1
      Tail(s(i), 100.0 * (i + 1) / n, n - 1 - i, n)
    } else Tail(s.last, 100.0, 0, n)
  }

  /** Skew of a partitioning: largest part over the mean part. Parts that
    * received nothing count in the mean. */
  def maxOverMean(parts: Seq[Double]): Double =
    if (parts.isEmpty || parts.sum == 0) 0.0 else parts.max / (parts.sum / parts.length)

  def maxOverMedian(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val m = median(xs)
    if (m == 0) 0.0 else xs.max / m
  }
}

/** One timed interval at a layer boundary. Times are nanoseconds on one
  * clock per trace; `parent` is the index of the enclosing span, or -1. */
final case class Span(name: String, start: Long, end: Long, parent: Int, query: String) {
  def duration: Long = end - start
}

/** In-memory span recorder: spans are appended while the benchmark runs and
  * written out once at the end. Nesting follows the calling thread's stack. */
final class Spans {
  val spans = new ArrayBuffer[Span]()
  private var open: List[Int] = Nil

  def apply[A](name: String, query: String)(body: => A): A = {
    val id = spans.length
    spans += null
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      spans(id) = Span(name, t0, System.nanoTime(), parent, query)
      open = open.tail
    }
  }

  /** Record an interval measured elsewhere (e.g. by a listener); returns its index. */
  def add(s: Span): Int = { spans += s; spans.length - 1 }

  def children(id: Int): Seq[Span] = spans.iterator.filter(_.parent == id).toSeq

  def selfTime(id: Int): Long = Spans.selfTime(spans(id), children(id))

  def toJsonLines: Iterator[String] = spans.iterator.zipWithIndex.map { case (s, i) =>
    Json.obj("id" -> i, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
      "parent" -> s.parent, "query" -> s.query)
  }
}

object Spans {
  /** A span's duration minus the part of its interval that its children
    * cover; overlapping children are counted once and the parts of children
    * outside the span are ignored. */
  def selfTime(span: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.start, span.start), math.min(c.end, span.end)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    span.duration - covered
  }
}
