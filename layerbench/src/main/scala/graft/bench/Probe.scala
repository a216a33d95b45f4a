package graft.bench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Bytes the untraced run needs for `write_amp`: everything a task put on
  * storage (output files, shuffle files, spill), by task launch time, so
  * only tasks of the ops count, not the harness's own writes between them.
  */
final class StorageCounter extends SparkListener {
  private val tasks = mutable.ArrayBuffer.empty[(Long, Long)]
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val bytes = m.outputMetrics.bytesWritten + m.shuffleWriteMetrics.bytesWritten +
        m.diskBytesSpilled
      synchronized { tasks += ((e.taskInfo.launchTime, bytes)) }
    }
  }
  /** Bytes of the tasks launched inside any of the `(start, end)` windows. */
  def bytesWithin(windows: Seq[(Long, Long)]): Long = synchronized {
    tasks.collect { case (t, b) if windows.exists { case (a, z) => a <= t && t <= z } => b }.sum
  }
}

/** A named interval and the span that caused it; epoch milliseconds, the
  * clock Spark stamps job, task and micro-batch events with.
  */
final case class Span(id: Long, parent: Long, name: String,
                      startMs: Long, endMs: Long)

final case class TaskRec(launchMs: Long, finishMs: Long, bytesRead: Long,
                         bytesWritten: Long, recordsWritten: Long,
                         shuffleWriteBytes: Long, shuffleRecords: Long,
                         spillBytes: Long, fetchWaitMs: Long)
final case class JobRec(id: Int, startMs: Long, endMs: Long)
final case class PhaseRec(phase: String, startMs: Long, endMs: Long)
final case class BatchRec(query: String, batchId: Long, startMs: Long,
                          triggerMs: Long, addBatchMs: Long,
                          stateCommitMs: Long, stateRows: Long,
                          ranBatch: Boolean)

/** The traced run's recorder. It attaches a SparkListener, a
  * StreamingQueryListener and a QueryExecutionListener to the session and
  * keeps every event it sees in memory. Ops run one at a time, so an
  * event belongs to the op whose interval contains its start time; the
  * attribution happens when the run ends, which makes late delivery on
  * the listener bus harmless.
  */
final class Probe(spark: SparkSession) {
  private val spanSeq = new AtomicLong()
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[Long]
  val phases = mutable.ArrayBuffer.empty[PhaseRec]
  val batches = mutable.ArrayBuffer.empty[BatchRec]
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val spans = mutable.ArrayBuffer.empty[Span]

  def newSpanId(): Long = spanSeq.incrementAndGet()

  def span(s: Span): Unit = synchronized { spans += s }

  private val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Probe.this.synchronized { jobStarts(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobs += JobRec(e.jobId, s, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Probe.this.synchronized {
        e.stageInfo.submissionTime.foreach(t => stages += t)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val info = e.taskInfo
      val m = e.taskMetrics
      val rec =
        if (m == null) TaskRec(info.launchTime, info.finishTime, 0, 0, 0, 0, 0, 0, 0)
        else TaskRec(info.launchTime, info.finishTime,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
          m.outputMetrics.recordsWritten, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleWriteMetrics.recordsWritten, m.diskBytesSpilled,
          m.shuffleReadMetrics.fetchWaitTime)
      Probe.this.synchronized { tasks += rec }
    }
  }

  private val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Probe.this.synchronized {
      qe.tracker.phases.foreach { case (phase, s) =>
        phases += PhaseRec(phase, s.startTimeMs, s.endTimeMs)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val rec = BatchRec(p.runId.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        d("triggerExecution"), d("addBatch"),
        p.stateOperators.map(_.commitTimeMs).sum,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.durationMs.containsKey("addBatch"))
      Probe.this.synchronized { batches += rec }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for the listener bus to deliver every queued event, then stop
    * listening. */
  def detach(): Unit = {
    org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Job, catalyst-phase and micro-batch spans, each parented to the op
    * span whose interval holds its start; the op and pass spans as given. */
  def allSpans(): Seq[Span] = synchronized {
    val ops = spans.filter(_.name.startsWith("op:")).sortBy(_.startMs)
    def parentOf(t: Long): Long =
      ops.find(o => o.startMs <= t && t <= o.endMs).map(_.id).getOrElse(0L)
    spans.toList ++
      jobs.map(j => Span(newSpanId(), parentOf(j.startMs), s"job:${j.id}", j.startMs, j.endMs)) ++
      phases.map(p => Span(newSpanId(), parentOf(p.startMs), s"catalyst:${p.phase}", p.startMs, p.endMs)) ++
      batches.map(b => Span(newSpanId(), parentOf(b.startMs),
        s"batch:${b.query}#${b.batchId}", b.startMs, b.startMs + b.triggerMs))
  }
}
