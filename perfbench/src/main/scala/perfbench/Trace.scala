package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary. `parent` is -1 for a root span;
  * every span of one timed operation shares its root's `traceId`. Times
  * are `System.nanoTime` for durations and epoch milliseconds for matching
  * against Spark listener events, which carry wall-clock stamps.
  */
final case class Span(
    id: Int,
    name: String,
    traceId: Int,
    parent: Int,
    startNs: Long,
    endNs: Long,
    startMs: Long,
    endMs: Long,
    compileNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the thread that runs the operations. While a
  * span is open its id rides on the Spark local property
  * [[Tracer.SpanProperty]], so every job submitted inside it (also from
  * Spark's broadcast and subquery pools, which inherit local properties) is
  * attributable to it.
  */
final class Tracer(sc: org.apache.spark.SparkContext) {
  private val done = ArrayBuffer.empty[Span]
  private var open: List[(Int, Long, Long, Long)] = Nil
  private var nextId = 0
  private var nextTrace = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val (parent, traceId) = open match {
      case (pid, tid, _, _) :: _ => (pid, tid.toInt)
      case Nil => nextTrace += 1; (-1, nextTrace)
    }
    val compile0 = Listeners.compileNs
    open = (id, traceId.toLong, System.nanoTime(), System.currentTimeMillis()) :: open
    sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    try body
    finally {
      val endNs = System.nanoTime()
      val endMs = System.currentTimeMillis()
      val (_, _, startNs, startMs) = open.head
      open = open.tail
      sc.setLocalProperty(Tracer.SpanProperty,
        if (parent < 0) null else parent.toString)
      done += Span(id, name, traceId, parent, startNs, endNs, startMs, endMs,
        Listeners.compileNs - compile0)
    }
  }

  def spans: Seq[Span] = done.toSeq

  /** The recorded spans as JSON lines (written when the run ends). */
  def jsonLines: Seq[String] = done.sortBy(_.id).map { s =>
    Json.obj(Seq(
      "id" -> Json.num(s.id), "name" -> Json.str(s.name),
      "trace" -> Json.num(s.traceId), "parent" -> Json.num(s.parent),
      "start_ns" -> Json.num(s.startNs), "end_ns" -> Json.num(s.endNs),
      "compile_ns" -> Json.num(s.compileNs)))
  }.toSeq
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

object SelfTime {

  /** Total length of the union of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach {
      case (a, b) =>
        if (a > curEnd) {
          if (curEnd > curStart) total += curEnd - curStart
          curStart = a
          curEnd = b
        } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Self time (ns) per span id: the span's duration minus the part of it
    * that its direct children cover (children clipped to the parent).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(children.getOrElse(s.id, Nil).map { c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))
      })
      s.id -> ((s.endNs - s.startNs) - covered)
    }.toMap
  }

  /** Share of a root span's wall time that its descendants' self times
    * account for, i.e. how much of the operation the trace explains.
    */
  def coverage(spans: Seq[Span], root: Span): Double = {
    val self = selfTimes(spans)
    val inTrace = spans.filter(s => s.traceId == root.traceId && s.id != root.id)
    val dur = root.endNs - root.startNs
    if (dur <= 0) 0.0 else inTrace.map(s => self(s.id)).sum.toDouble / dur
  }
}
