package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** What one op call cost, layer by layer. Times in seconds, sizes in bytes. */
final case class CallTrace(
    driverS: Double, planS: Double, jobActiveS: Double, taskS: Double, cpuS: Double,
    gcS: Double, shuffleBytes: Long, spillBytes: Long, outputBytes: Long,
    recordsWritten: Long, jobs: Int, tasks: Int, taskRetries: Int)

/** Read-only driver-side listener. It only counts: it never changes a plan,
  * a conf or a job. Events are attributed to the op call that was running
  * when they were posted; the harness drains the listener bus after each
  * call and then [[harvest]]s, so no event of one call lands in another.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val openJobs = mutable.Map[Int, Long]()
  private val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  private var planMs, taskMs, gcMs, shuffleBytes, spillBytes, outputBytes, records = 0L
  private var cpuNs = 0L
  private var jobs, tasks, retries = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    openJobs(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(start => jobSpans += ((start, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.taskInfo != null && e.taskInfo.attemptNumber > 0) retries += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
      outputBytes += m.outputMetrics.bytesWritten
      records += m.outputMetrics.recordsWritten
    }
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    planMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = planned(qe)

  /** Close the books on the call that ran from `startMs` to `endMs`
    * (wall-clock millis) and reset for the next one.
    */
  def harvest(startMs: Long, endMs: Long): CallTrace = synchronized {
    val spans = (jobSpans ++ openJobs.values.map(s => (s, endMs)))
      .map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var active = 0L
    var cursor = Long.MinValue
    spans.foreach { case (s, e) =>
      val from = math.max(s, cursor)
      if (e > from) active += e - from
      cursor = math.max(cursor, e)
    }
    val wallMs = math.max(0L, endMs - startMs)
    val t = CallTrace(
      driverS = (wallMs - math.min(active, wallMs)) / 1e3, planS = planMs / 1e3,
      jobActiveS = active / 1e3, taskS = taskMs / 1e3, cpuS = cpuNs / 1e9, gcS = gcMs / 1e3,
      shuffleBytes = shuffleBytes, spillBytes = spillBytes, outputBytes = outputBytes,
      recordsWritten = records, jobs = jobs, tasks = tasks, taskRetries = retries)
    openJobs.clear(); jobSpans.clear()
    planMs = 0; taskMs = 0; gcMs = 0; shuffleBytes = 0; spillBytes = 0; outputBytes = 0; records = 0
    cpuNs = 0; jobs = 0; tasks = 0; retries = 0
    t
  }
}
