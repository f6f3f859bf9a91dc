package perfbench

import scala.collection.mutable
import scala.util.Try
import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds, read through `nanoTime` so that
  * intervals are monotonic while staying comparable with the
  * epoch-millisecond times Spark stamps on its events.
  */
object Clock {
  private val nano0 = System.nanoTime()
  private val epochUs0 = System.currentTimeMillis() * 1000L
  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
}

/** One timed interval of a traced run: `parent` is the id of the span
  * that caused it (0 for a root), `op` the op it belongs to (0 for
  * set-up).
  */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, op: Int)

/** Counters of the Spark jobs run under one job group. */
final class GroupStats {
  var jobs = 0; var jobsEnded = 0; var stages = 0; var tasks = 0; var tasksFailed = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var waitMs = 0L
  var inputBytes = 0L; var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "jobs_ended" -> jobsEnded, "stages" -> stages, "tasks" -> tasks,
    "task_failed" -> tasksFailed, "task_run_ms" -> runMs,
    "task_cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "task_wait_ms" -> waitMs,
    "input_bytes" -> inputBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes)
}

/** Records every Spark job, stage and task by the job group that
  * started it. A traced run gives each phase of each op its own group.
  */
final class JobListener extends SparkListener {
  final case class Job(group: String, start: Long, var end: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageSubmitMs = mutable.Map.empty[(Int, Int), Long]
  private val groups = mutable.Map.empty[String, GroupStats]

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  private def stats(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    jobs(e.jobId) = Job(g, e.time * 1000L, -1L)
    e.stageIds.foreach(stageGroup(_) = g)
    stats(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time * 1000L
      stats(j.group).jobsEnded += 1
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    val g = stageGroup.getOrElseUpdate(si.stageId, groupOf(e.properties))
    stageSubmitMs((si.stageId, si.attemptNumber())) =
      si.submissionTime.getOrElse(System.currentTimeMillis())
    stats(g).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageGroup.getOrElse(e.stageId, ""))
    s.tasks += 1
    if (e.reason != TaskSuccess) s.tasksFailed += 1
    stageSubmitMs.get((e.stageId, e.stageAttemptId)).foreach { sub =>
      s.waitMs += math.max(0L, e.taskInfo.launchTime - sub)
    }
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def jobsOf(group: String): Seq[Job] = synchronized(jobs.values.filter(_.group == group).toSeq)
  def statsOf(group: String): Map[String, Long] =
    synchronized(groups.get(group).map(_.toMap).getOrElse(new GroupStats().toMap))
}

/** When Catalyst finished planning each timed action: the end of its
  * last planning phase, tied to its op by the name of the observation
  * the action carries.
  */
final class PlanListener extends QueryExecutionListener {
  /** Observation name to planning end, in epoch microseconds. */
  private val planEnds = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  private def record(qe: QueryExecution): Unit = {
    val names = Try(qe.observedMetrics.keys.toSeq).getOrElse(Nil)
    val ends = qe.tracker.phases.values.map(_.endTimeMs * 1000L)
    if (ends.nonEmpty) names.filter(_.startsWith(Ops.ObsPrefix)).foreach { n =>
      planEnds.merge(n, ends.max, (a: Long, b: Long) => math.max(a, b))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def planEnd(obsName: String): Option[Long] = Option(planEnds.get(obsName))
}
