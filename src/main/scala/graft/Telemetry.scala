package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.graftshim.SchedulerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** The one runtime listener of the harnesses: [[measure]] attaches a
  * fresh [[Tap]] around a body and settles it by draining the listener
  * bus, so no late task-end event is lost to a fixed sleep. */
object Telemetry {

  /** Census key of each counted plan node; `Exchange` is a shuffle
    * exchange (a BroadcastExchange is not counted). */
  private val censusKey = Map("Exchange" -> "shuffles",
    "BroadcastHashJoin" -> "bhj", "SortMergeJoin" -> "smj",
    "ShuffledHashJoin" -> "shj",
    "BroadcastNestedLoopJoin" -> "nlj", "CartesianProduct" -> "nlj")
  val censusKeys = Seq("shuffles", "bhj", "smj", "shj", "nlj")

  /** Census keys of one plan tree's counted nodes. A reused exchange or
    * subquery ran once, where its original appears, so its subtree is
    * not re-counted. */
  private def censusNodes(p: SparkPlanInfo): Seq[String] =
    censusKey.get(p.nodeName).toSeq ++ (if (p.nodeName.startsWith("Reused")) Nil
      else p.children.flatMap(censusNodes))

  /** One successful task attempt. Durations in ms, sizes in bytes. */
  final case class TaskRow(stageId: Int, durationMs: Long, gcMs: Long,
      shuffleRecordsRead: Long, shuffleBytesRead: Long,
      shuffleBytesWritten: Long, inputBytes: Long)

  /** What one measured body ran: jobs started, stages submitted with
    * them, stages actually completed, the census of every SQL
    * execution's final plan, and one [[TaskRow]] per successful task
    * attempt. Skipped = planned − submitted (AQE exchange reuse /
    * already-computed checkpoint parents). */
  final class Tap extends SparkListener {
    val jobs = new AtomicInteger
    // distinct stage ids planned by job DAGs vs actually submitted:
    // a stage in a DAG that never submits was SKIPPED (its output was
    // already available) — the UI's definition, computed directly
    // instead of a max(0, planned - completions) clamp, which both
    // under-counts (retry attempts inflate completions) and can hide
    // real skips behind failures.
    private val plannedIds = ConcurrentHashMap.newKeySet[Int]()
    private val submittedIds = ConcurrentHashMap.newKeySet[Int]()
    private val attempts = new AtomicInteger
    val completedOk = new AtomicInteger
    val failed = new AtomicInteger
    // executionId -> latest plan: the start event's plan, replaced by
    // each AQE re-plan; the one left at execution end is the final plan
    private val plans = new ConcurrentHashMap[Long, SparkPlanInfo]
    private val counts = scala.collection.concurrent.TrieMap[String, Int]()
    private val rows = new ConcurrentLinkedQueue[TaskRow]
    private val names = new ConcurrentHashMap[Int, String]
    /** Wall seconds of the measured body (without the drain). */
    @volatile var wallS = 0.0

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      js.stageInfos.foreach(si => plannedIds.add(si.stageId))
    }
    override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit = {
      attempts.incrementAndGet()
      submittedIds.add(ss.stageInfo.stageId)
      names.put(ss.stageInfo.stageId, ss.stageInfo.name)
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      if (sc.stageInfo.failureReason.isEmpty) completedOk.incrementAndGet()
      else failed.incrementAndGet()
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.reason == Success && t.taskMetrics != null) {
        val m = t.taskMetrics
        rows.add(TaskRow(t.stageId, t.taskInfo.duration, m.jvmGCTime,
          m.shuffleReadMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        plans.put(u.executionId, u.sparkPlanInfo)
      case end: SparkListenerSQLExecutionEnd =>
        Option(plans.remove(end.executionId))
          .foreach(censusNodes(_).foreach(k => counts(k) = census(k) + 1))
      case _ =>
    }

    /** Census count of one of [[censusKeys]]. */
    def census(key: String): Int = counts.getOrElse(key, 0)
    /** Planned-but-never-submitted stages (reused outputs). */
    def skipped: Int = plannedIds.size - submittedIds.size
    /** Re-attempts beyond each stage's first submission. */
    def retries: Int = attempts.get - submittedIds.size
    /** One row per successful task attempt, in completion order. */
    def tasks: Seq[TaskRow] = rows.asScala.toSeq
    /** Name of a submitted stage (its call site). */
    def stageName(stageId: Int): String = names.getOrDefault(stageId, "")
  }

  /** Runs `body` with a fresh [[Tap]] attached; returns the tap,
    * settled by draining the listener bus, and the failure, if any. */
  def measure(spark: SparkSession)(body: => Unit): (Tap, Option[Throwable]) = {
    val tap = new Tap
    val sc = spark.sparkContext
    sc.addSparkListener(tap)
    try {
      val t0 = System.nanoTime()
      val err = try { body; None } catch { case e: Throwable => Some(e) }
      tap.wallS = (System.nanoTime() - t0) / 1e9
      SchedulerBridge.drainListenerBus(sc)
      (tap, err)
    } finally sc.removeSparkListener(tap)
  }

  /** The code a run ran: HEAD's commit, whether `src/` differs from
    * HEAD's, and the tree id of `src/` as it is on disk. Each field is
    * None when git or the repository is unavailable. */
  final case class Revision(head: Option[String], srcDirty: Option[Boolean],
                            srcTree: Option[String]) {
    /** The three fields as JSON members (no braces); None is null. */
    def json: String = {
      def str(o: Option[String]) = o.map("\"" + _ + "\"").getOrElse("null")
      s""""git_head": ${str(head)}, "src_dirty": ${srcDirty.getOrElse("null")}, """ +
        s""""src_tree": ${str(srcTree)}"""
    }
  }

  /** The [[Revision]] of the working directory's repository. The `src/`
    * tree is hashed through a temporary index (`GIT_INDEX_FILE`, then
    * `git add -A src` and `git write-tree`), so it equals
    * `git rev-parse <commit>:src` for the commit that carries the same
    * files, and HEAD's own index is never touched. A failing git call
    * yields None; it never fails the run. */
  def revision(): Revision = {
    import scala.sys.process._
    def git(env: (String, String)*)(args: String*): Option[String] =
      try {
        val out = new StringBuilder
        val code = Process("git" +: args, None, env: _*)
          .!(ProcessLogger(l => out.append(l), _ => ()))
        if (code == 0) Some(out.toString.trim) else None
      } catch { case _: Exception => None }
    val head = git()("rev-parse", "HEAD")
    val index = java.nio.file.Files.createTempFile("graft_rev", ".index")
    // git starts an absent index file empty; an empty existing one is corrupt
    java.nio.file.Files.delete(index)
    val tmp = "GIT_INDEX_FILE" -> index.toString
    val tree =
      try git(tmp)("add", "-A", "src").flatMap(_ => git(tmp)("write-tree", "--prefix=src/"))
      finally java.nio.file.Files.deleteIfExists(index)
    val dirty = for (t <- tree; h <- git()("rev-parse", "HEAD:src")) yield t != h
    Revision(head, dirty, tree)
  }
}
