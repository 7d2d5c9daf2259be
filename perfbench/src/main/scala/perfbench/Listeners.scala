package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side work attributed to one span (or to the whole run). */
final class Work {
  var jobs = 0
  var tasks = 0
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var recordsRead = 0L
  var gcMs = 0L
  var spillBytes = 0L
  /** (start, end) epoch ms of each finished job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def snapshot: Work = synchronized {
    val w = new Work
    w.jobs = jobs; w.tasks = tasks; w.taskCpuNs = taskCpuNs
    w.shuffleWriteBytes = shuffleWriteBytes; w.recordsRead = recordsRead
    w.gcMs = gcMs; w.spillBytes = spillBytes
    w
  }
}

/** The benchmark's own SparkListener: job/task counters keyed by the span
  * that submitted them (via the [[Tracer.SpanProperty]] local property),
  * run-wide totals, and the block manager's storage held by RDD blocks
  * (cached and checkpointed partitions), current and peak.
  */
final class SparkCounters extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val bySpan = mutable.Map.empty[Int, Work]
  /** Size of every RDD block held, keyed by (rdd id, executor/block). */
  private val blocks = mutable.Map.empty[(Int, String), Long]
  private var storedBytes = 0L
  private var peakBytes = 0L
  val total = new Work

  private def workOf(span: Int): Work = bySpan.getOrElseUpdate(span, new Work)

  def spanWork(span: Int): Work = synchronized(workOf(span))

  def stored: Long = synchronized(storedBytes)

  /** Peak RDD-block storage since the last call (then restarts from the
    * storage currently held).
    */
  def takePeak(): Long = synchronized {
    val p = peakBytes
    peakBytes = storedBytes
    p
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    jobSpan(e.jobId) = span
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val start = jobStart.remove(e.jobId).getOrElse(e.time)
    val span = jobSpan.getOrElse(e.jobId, -1)
    Seq(total, workOf(span)).foreach { w =>
      w.jobs += 1
      w.jobIntervals += ((start, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val span = stageJob.get(e.stageId).flatMap(jobSpan.get).getOrElse(-1)
    Seq(total, workOf(span)).foreach { w =>
      w.tasks += 1
      if (m != null) {
        w.taskCpuNs += m.executorCpuTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.recordsRead += m.inputMetrics.recordsRead
        w.gcMs += m.jvmGCTime
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { id =>
      val key = (id.rddId, s"${info.blockManagerId.executorId}/${id.name}")
      val size =
        if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      storedBytes += size - blocks.getOrElse(key, 0L)
      if (size > 0) blocks(key) = size else blocks.remove(key)
      peakBytes = math.max(peakBytes, storedBytes)
    }
  }

  // unpersist drops an RDD's blocks without a block update per block
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val gone = blocks.keys.filter(_._1 == e.rddId).toSeq
    gone.foreach(k => storedBytes -= blocks.remove(k).getOrElse(0L))
  }
}

/** Catalyst analysis + optimization + planning time of every executed
  * query, stamped with the phase start so it can be matched to a span.
  */
final class PlanTimes extends QueryExecutionListener {
  /** (first phase start epoch ms, summed phase duration ms). */
  private val entries = mutable.ArrayBuffer.empty[(Long, Long)]

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) synchronized {
      entries += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  /** Planning seconds of the queries that started inside [startMs, endMs]. */
  def secondsWithin(startMs: Long, endMs: Long): Double = synchronized {
    entries.iterator
      .filter { case (s, _) => s >= startMs && s <= endMs }
      .map(_._2).sum / 1e3
  }
}

object Listeners {

  /** Wait until every listener event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.perfbench.Bus.waitUntilEmpty(sc)

  /** Nanoseconds spent compiling generated code so far (JVM-wide). */
  def compileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
}
