package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw scheduler and planner events of traced passes, kept in memory
  * until the run ends. Times are epoch milliseconds as Spark stamps
  * them; Main converts them to its own clock when it writes the record.
  *
  * Jobs carry the job group that was set on the submitting thread
  * (Main sets one per query span and layer), which is how a job, and
  * through it every stage and task, is attributed to a query span.
  * Only successful task attempts count towards task time, and failed
  * attempts are counted separately, so a retried task is not double
  * counted as work. */
final class Probe extends SparkListener with QueryExecutionListener {
  import Probe._

  val jobs = mutable.ArrayBuffer[Job]()
  val stages = mutable.LinkedHashMap[(Int, Int), Stage]()
  val executions = mutable.ArrayBuffer[Execution]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val openJobs = mutable.HashMap[Int, Job]()
  private val taskTimes = mutable.HashMap[(Int, Int), mutable.ArrayBuffer[Long]]()
  var blockBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = Job(e.jobId, group, e.time)
    openJobs(e.jobId) = j
    jobs += j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stage(e.stageId, e.stageAttemptId)
    val info = e.taskInfo
    if (info == null || !info.successful) st.failedTasks += 1
    else {
      st.tasks += 1
      taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer[Long]()) += info.duration
      st.taskMs += info.duration
      Option(e.taskMetrics).foreach { m =>
        st.gcMs += m.jvmGCTime
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.spillBytes += m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val st = stage(i.stageId, i.attemptNumber())
    st.numTasks = i.numTasks
    st.startMs = i.submissionTime.getOrElse(0L)
    st.endMs = i.completionTime.getOrElse(st.startMs)
    st.failed = i.failureReason.isDefined
    val ts = taskTimes.remove((i.stageId, i.attemptNumber()))
      .map(_.sorted).getOrElse(mutable.ArrayBuffer[Long]())
    if (ts.nonEmpty) {
      st.taskMaxMs = ts.last
      st.taskMedianMs = ts(ts.size / 2)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      blockBytes += b.memSize + b.diskSize
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(funcName, qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = record(funcName, qe, ok = false)

  private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val startMs = phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
    val (rows, bytes) = scans(qe.executedPlan)
    val x = Execution(funcName, startMs, ok, ms("analysis"),
      ms("optimization"), ms("planning"), rows, bytes)
    synchronized { executions += x }
  }

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt), Stage(id, attempt, stageJob.getOrElse(id, -1)))
}

object Probe {
  final case class Job(id: Int, group: String, startMs: Long) {
    var endMs: Long = startMs
    var ok: Boolean = false
  }

  final case class Stage(id: Int, attempt: Int, job: Int) {
    var numTasks, tasks, failedTasks = 0
    var startMs, endMs, taskMs, taskMaxMs, taskMedianMs, gcMs = 0L
    var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
    var failed = false
  }

  /** One planned-and-executed Dataset action, eager ones included
    * (`localCheckpoint`, `count`, `collect` inside query functions). */
  final case class Execution(func: String, startMs: Long, ok: Boolean,
                             analysisMs: Long, optimizationMs: Long,
                             planningMs: Long, scanRows: Long, scanBytes: Long)

  private object Plans extends AdaptiveSparkPlanHelper

  /** (rows out, size of the files read) over the file-source scans of an
    * executed plan, from the scans' own SQL metrics. */
  def scans(plan: SparkPlan): (Long, Long) = {
    val xs = Plans.collectWithSubqueries(plan) {
      case p if p.children.isEmpty && p.getClass.getSimpleName.contains("FileSourceScan") =>
        def metric(name: String) = p.metrics.get(name).map(_.value).getOrElse(0L)
        (metric("numOutputRows"), metric("filesSize"))
    }
    (xs.map(_._1).sum, xs.map(_._2).sum)
  }
}
