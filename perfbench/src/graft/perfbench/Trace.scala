package graft.perfbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters fed by the benchmark's listeners. The listeners are
  * registered for the whole traced process; `enabled` is on only while a
  * measured unit runs, so set-up, output checks and the layer-by-layer
  * drains are not counted. */
object Trace {
  @volatile var enabled = false

  val jobs, tasks, executorCpuNs, gcMs, shuffleWriteBytes, inputBytes,
    spillBytes = new AtomicLong()
  val planS, execS = new DoubleAdder()
  private val batches = ArrayBuffer.empty[(Double, Double)] // (trigger ms, commit ms)

  def batchDurations: Seq[(Double, Double)] = batches.synchronized(batches.toList)

  private[perfbench] def recordBatch(triggerMs: Double, commitMs: Double): Unit =
    batches.synchronized(batches += ((triggerMs, commitMs)))

  /** Conf keys that make Spark instantiate the listeners in every
    * session, including the `newSession()` clones the streaming queries
    * and the reload pass run in. */
  def confs: Seq[(String, String)] = Seq(
    "spark.sql.queryExecutionListeners" -> classOf[PlanExecListener].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[BatchListener].getName,
    "spark.extraListeners" -> classOf[TaskListener].getName)
}

class TaskListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Trace.enabled) Trace.jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Trace.enabled) {
    Trace.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      Trace.executorCpuNs.addAndGet(m.executorCpuTime)
      Trace.gcMs.addAndGet(m.jvmGCTime)
      Trace.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      Trace.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      Trace.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

class PlanExecListener extends QueryExecutionListener {
  private val planPhases = Set("analysis", "optimization", "planning")

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = if (Trace.enabled) {
    Trace.execS.add(durationNs / 1e9)
    qe.tracker.phases.foreach { case (phase, summary) =>
      if (planPhases(phase)) Trace.planS.add(summary.durationMs / 1e3)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

class BatchListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (Trace.enabled && e.progress.numInputRows > 0) {
      val d = e.progress.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      Trace.recordBatch(ms("triggerExecution"), ms("walCommit") + ms("commitOffsets"))
    }
}
