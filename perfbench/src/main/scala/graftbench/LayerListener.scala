package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What one Spark job did, from its start event to its end event. */
final class JobStats(val id: Int, val start: Long, val stageIds: Seq[Int],
    val firstStage: String) {
  var end = -1L
  var stagesRun = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L

  def ended: Boolean = end >= 0
  def wallMs: Long = if (ended) end - start else 0L
  /** Stages listed by the job that it never ran: their shuffle output
    * was already there from an earlier job. */
  def skippedStages: Int = (stageIds.size - stagesRun).max(0)
  /** A table open: the schema-inference job of `spark.read.parquet`. A
    * parquet write has the same call-site name but writes bytes. */
  def isOpen: Boolean = firstStage.startsWith("parquet at ") && outputBytes == 0

  def add(t: TaskSample): Unit = {
    tasks += 1
    runMs += t.runMs
    cpuNs += t.cpuNs
    gcMs += t.gcMs
    shuffleReadBytes += t.shuffleReadBytes
    shuffleWriteBytes += t.shuffleWriteBytes
    spillBytes += t.spillBytes
    outputBytes += t.outputBytes
  }
}

final case class TaskSample(runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    outputBytes: Long)

/** Collects per-job statistics. A stage belongs to the job whose
  * `JobStart.stageIds` lists it (the earliest still-running one when
  * several do), so jobs that run at the same time, as the concurrent
  * dictionary fits do, each keep their own stages and tasks. Jobs are
  * handed out with [[claim]] in the order they started.
  */
final class LayerListener extends SparkListener {
  private val owner = mutable.HashMap.empty[Int, JobStats]
  private val running = mutable.HashMap.empty[Int, JobStats]
  private val unclaimed = mutable.ArrayBuffer.empty[JobStats]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val first = e.stageInfos.sortBy(_.stageId).headOption.fold("")(_.name)
    val job = new JobStats(e.jobId, e.time, e.stageIds, first)
    running(e.jobId) = job
    unclaimed += job
    e.stageIds.foreach { s =>
      if (!owner.get(s).exists(j => !j.ended)) owner(s) = job
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running.remove(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      if (e.stageInfo.attemptNumber() == 0)
        owner.get(e.stageInfo.stageId).foreach(_.stagesRun += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) taskEnded(e.stageId, TaskSample(m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
      m.outputMetrics.bytesWritten))
  }

  def taskEnded(stageId: Int, t: TaskSample): Unit = synchronized {
    owner.get(stageId).foreach(_.add(t))
  }

  /** Jobs started since the previous call, oldest first. Stage owners of
    * finished jobs are dropped, so the maps stay small over a long run. */
  def claim(): Seq[JobStats] = synchronized {
    val out = unclaimed.toList
    unclaimed.clear()
    owner.filterInPlace((_, j) => !j.ended)
    out
  }
}

/** Query-execution statistics: Catalyst phase times of every execution
  * and the files written by write commands. */
final class PlanListener extends QueryExecutionListener {
  var optimizationMs = 0L
  var planningMs = 0L
  var filesWritten = 0L

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases
    optimizationMs += phases.get("optimization").fold(0L)(_.durationMs)
    planningMs += phases.get("planning").fold(0L)(_.durationMs)
    filesWritten += Plans.filesWritten(qe.executedPlan)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** (optimization ms, planning ms, files written) since the last call. */
  def claim(): (Long, Long, Long) = synchronized {
    val out = (optimizationMs, planningMs, filesWritten)
    optimizationMs = 0L
    planningMs = 0L
    filesWritten = 0L
    out
  }
}
