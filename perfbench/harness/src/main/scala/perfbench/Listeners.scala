package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level counters, attributed to operations by finish time (ms). */
final case class TaskRec(finishMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                         shuffleRead: Long, shuffleWrite: Long, spillDisk: Long,
                         spillMem: Long, inRows: Long, inBytes: Long)

/** One micro-batch's `StreamingQueryProgress`, reduced to what is reported. */
final case class ProgressRec(query: String, addBatchMs: Long, planningMs: Long,
                             walCommitMs: Long, stateRows: Long)

/** Scheduler and executor layer: jobs, stages and task metrics, recorded
  * from the public `SparkListener` events. Events arrive on the listener
  * bus thread; the records are read once the traced pass's events have
  * been delivered (see `Runner.listen`). */
final class ExecListener extends SparkListener {
  private val jobStart = scala.collection.concurrent.TrieMap.empty[Int, Long]
  val jobs = ArrayBuffer.empty[(Long, Long)]
  val stages = ArrayBuffer.empty[Long]
  val tasks = ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStart(e.jobId) = e.time
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobs += ((t0, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.taskInfo.finishTime, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, m.memoryBytesSpilled,
      m.inputMetrics.recordsRead, m.inputMetrics.bytesRead)
  }
}

/** Catalyst layer: analysis, optimization and planning phases of every
  * query execution, from `QueryExecution.tracker` (start and end in ms). */
final class PlanListener extends QueryExecutionListener {
  val phases = ArrayBuffer.empty[(String, Long, Long)]
  private def record(qe: QueryExecution): Unit = synchronized {
    Seq("analysis", "optimization", "planning").foreach { p =>
      qe.tracker.phases.get(p).foreach(s => phases += ((p, s.startTimeMs, s.endTimeMs)))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Streaming layer: per-batch duration phases and state-store rows. */
final class StreamListener extends StreamingQueryListener {
  val progress = ArrayBuffer.empty[ProgressRec]
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    if (p.numInputRows > 0)
      progress += ProgressRec(Option(p.name).getOrElse(p.id.toString),
        ms("addBatch"), ms("queryPlanning"), ms("walCommit"),
        p.stateOperators.map(_.numRowsTotal).sum)
  }
}
