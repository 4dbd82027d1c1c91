package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.graftshim.SchedulerBridge
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Checkpoints, SparkEntry, Verify}
import graft.sources.Tables

/** One closed-loop benchmark run: one client, one query at a time.
  *
  *   set-up   session build, one read of every table, then one untimed
  *            pass over the query list that pays codegen and the
  *            session-scoped caches the queries build (co-ship spine,
  *            persisted indexes)
  *   timed    whole passes over the query list, each in its own seeded
  *            permutation, until `--seconds` have elapsed and at least
  *            three passes have run, so that run.py's medians over
  *            passes and over each query's executions have three samples
  *   check    after the timed passes, in the same session, one more
  *            execution of each query writes its result as parquet for
  *            the DuckDB oracle check run.py makes after the run, so a
  *            session cache or a checkpoint release that corrupts later
  *            executions shows as a failed check
  *
  * Each timed execution is three calls into the engine, timed from
  * here: the query function (`queries.build`, which includes the eager
  * checkpoint rounds of iterative operators), the noop-sink action
  * (`exec.run`) and `Checkpoints.releaseAll` (`checkpoints.release`).
  *
  * With `--trace 1`, half the passes are traced: they set a job group
  * per span and attach a [[Probe]]; the untraced half gives the
  * queries-per-minute the tracing overhead is measured against.
  *
  * Writes `<out>/run.json`; run.py turns it into metrics.
  */
object Main {
  private val t0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()
  private def now(): Double = (System.nanoTime() - t0) / 1e9
  private def fromEpochMs(ms: Long): Double = (ms - ms0) / 1e3

  final case class Args(fixture: String, out: String, queries: Seq[String],
                        seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, localDir: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("fixture"), req("out"), req("queries").split(',').toSeq,
      req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("cores").toInt, req("local-dir"))
  }

  /** One timed execution of one query. Times are seconds on the run's
    * clock; `group` is the job-group prefix of a traced execution. */
  final case class Exec(pass: Int, query: String, traced: Boolean,
                        group: String, start: Double) {
    var built, ran, released: Double = start
    var error: String = ""
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val loadStart = loadAvg()
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.localDir)
      .config("spark.sql.warehouse.dir", s"${a.localDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val sessionS = now()

    Tables.all.foreach { n =>
      (if (n == "events") Tables.events(spark, a.fixture)
       else Tables.t(spark, a.fixture, n)).count()
    }
    val tableWarmEnd = now()

    val fns = a.queries.map(q => q -> SparkEntry.queries(q))
    val warmS = mutable.ArrayBuffer[(String, Double)]()
    val checkErrors = mutable.Map[String, String]()
    def describe(t: Throwable) = s"${t.getClass.getName}: ${t.getMessage}"
    fns.foreach { case (q, fn) =>
      val t = now()
      try noop(fn(spark, a.fixture))
      catch { case NonFatal(e) => checkErrors(q) = s"warm-up: ${describe(e)}" }
      finally Checkpoints.releaseAll(spark)
      warmS += q -> (now() - t)
    }
    val setupS = now()

    val execs = mutable.ArrayBuffer[Exec]()
    val probe = new Probe
    val pinnedLive = mutable.ArrayBuffer[Int]()
    val passCpuS = mutable.ArrayBuffer[Double]()
    val cpu0 = cpuSeconds()
    val stat0 = hostCpuTicks()
    val (gc0, jit0) = (gcSeconds(), jitSeconds())
    // Traced runs order passes traced, untraced, untraced, traced (and
    // again), so both kinds sit equally far into the JIT's warm-up.
    var pass = 0
    def enough = now() - setupS >= a.seconds && pass >= 3 && (!a.trace || pass % 4 == 0)
    while (!enough) {
      val traced = a.trace && (pass % 4 == 0 || pass % 4 == 3)
      if (traced) {
        sc.addSparkListener(probe)
        spark.listenerManager.register(probe)
      }
      val order = new scala.util.Random(a.seed * 1000003L + pass).shuffle(fns)
      val passCpu0 = cpuSeconds()
      order.foreach { case (q, fn) =>
        val e = Exec(pass, q, traced, s"pb:${execs.size}", now())
        execs += e
        def span[T](layer: String)(body: => T): T = {
          if (traced) sc.setJobGroup(s"${e.group}:$layer", q, interruptOnCancel = false)
          try body finally if (traced) sc.clearJobGroup()
        }
        try {
          val df = span("build")(fn(spark, a.fixture))
          e.built = now()
          span("exec")(noop(df))
          e.ran = now()
        } catch { case NonFatal(t) =>
          e.error = describe(t)
        } finally {
          span("release")(Checkpoints.releaseAll(spark))
          e.released = now()
          e.ran = math.max(e.ran, e.built)
        }
      }
      passCpuS += cpuSeconds() - passCpu0
      pinnedLive += Checkpoints.trackedCount(spark)
      if (traced) {
        SchedulerBridge.drainListenerBus(sc, 60000L)
        sc.removeSparkListener(probe)
        spark.listenerManager.unregister(probe)
      }
      pass += 1
    }
    val timedEnd = now()
    val cpuS = cpuSeconds() - cpu0
    val (gcS, jitS) = (gcSeconds() - gc0, jitSeconds() - jit0)
    val stat1 = hostCpuTicks()
    val stealFrac = {
      val total = stat1.sum - stat0.sum
      if (total > 0 && stat0.length > 7) (stat1(7) - stat0(7)).toDouble / total else -1.0
    }
    val peakRssMb = vmHwmKb() / 1024.0
    val loadEnd = loadAvg()

    fns.foreach { case (q, fn) =>
      try fn(spark, a.fixture).coalesce(1).write.mode("overwrite").parquet(s"${a.out}/results/$q")
      catch { case NonFatal(e) => checkErrors.getOrElseUpdate(q, describe(e)) }
      finally Checkpoints.releaseAll(spark)
    }

    val dynamic =
      if (a.queries.exists(Verify.dynamicKeys.contains)) SparkEntry.dynamicOracleSql(spark, a.fixture)
      else Map.empty[String, String]
    val oracles = (SparkEntry.oracleSql ++ dynamic).filter(kv => a.queries.contains(kv._1))

    val j = Json
    val record = j.obj(
      "spark_version" -> j.str(spark.version),
      "java_version" -> j.str(System.getProperty("java.version")),
      "scala_version" -> j.str(scala.util.Properties.versionNumberString),
      "cores" -> j.num(a.cores),
      "seed" -> j.num(a.seed),
      "trace" -> j.bool(a.trace),
      "loadavg_start" -> j.num(loadStart),
      "loadavg_end" -> j.num(loadEnd),
      "setup" -> j.obj(
        "session_s" -> j.num(sessionS),
        "table_warm_s" -> j.num(tableWarmEnd - sessionS),
        "first_pass_s" -> j.num(setupS - tableWarmEnd),
        "first_pass_query_s" -> j.obj(warmS.map { case (q, t) => q -> j.num(t) }.toSeq: _*),
        "setup_s" -> j.num(setupS)),
      "timed" -> j.obj(
        "start" -> j.num(setupS),
        "end" -> j.num(timedEnd),
        "passes" -> j.num(pass),
        "cpu_s" -> j.num(cpuS),
        "pass_cpu_s" -> j.arr(passCpuS.map(j.num(_)).toSeq),
        "peak_rss_mb" -> j.num(peakRssMb),
        "steal_frac" -> j.num(stealFrac),
        "jvm_gc_s" -> j.num(gcS),
        "jit_compile_s" -> j.num(jitS),
        "pinned_live" -> j.arr(pinnedLive.map(j.num(_)).toSeq)),
      "executions" -> j.arr(execs.map { e =>
        j.obj("pass" -> j.num(e.pass), "query" -> j.str(e.query),
          "traced" -> j.bool(e.traced), "group" -> j.str(e.group),
          "start" -> j.num(e.start), "built" -> j.num(e.built),
          "ran" -> j.num(e.ran), "released" -> j.num(e.released),
          "error" -> j.str(e.error))
      }.toSeq),
      "jobs" -> j.arr(probe.jobs.map { x =>
        j.obj("id" -> j.num(x.id), "group" -> j.str(x.group),
          "start" -> j.num(fromEpochMs(x.startMs)), "end" -> j.num(fromEpochMs(x.endMs)),
          "ok" -> j.bool(x.ok))
      }.toSeq),
      "stages" -> j.arr(probe.stages.values.map { s =>
        j.obj("id" -> j.num(s.id), "attempt" -> j.num(s.attempt), "job" -> j.num(s.job),
          "start" -> j.num(fromEpochMs(s.startMs)), "end" -> j.num(fromEpochMs(s.endMs)),
          "num_tasks" -> j.num(s.numTasks), "tasks" -> j.num(s.tasks),
          "failed_tasks" -> j.num(s.failedTasks), "failed" -> j.bool(s.failed),
          "task_s" -> j.num(s.taskMs / 1e3), "task_max_s" -> j.num(s.taskMaxMs / 1e3),
          "task_median_s" -> j.num(s.taskMedianMs / 1e3), "gc_s" -> j.num(s.gcMs / 1e3),
          "shuffle_write_bytes" -> j.num(s.shuffleWriteBytes),
          "shuffle_read_bytes" -> j.num(s.shuffleReadBytes),
          "spill_bytes" -> j.num(s.spillBytes))
      }.toSeq),
      "plans" -> j.arr(probe.executions.map { x =>
        j.obj("func" -> j.str(x.func), "start" -> j.num(fromEpochMs(x.startMs)),
          "ok" -> j.bool(x.ok), "analysis_s" -> j.num(x.analysisMs / 1e3),
          "optimization_s" -> j.num(x.optimizationMs / 1e3),
          "planning_s" -> j.num(x.planningMs / 1e3), "scan_rows" -> j.num(x.scanRows),
          "scan_bytes" -> j.num(x.scanBytes))
      }.toSeq),
      "block_bytes" -> j.num(probe.blockBytes),
      "check_errors" -> j.obj(checkErrors.toSeq.map { case (k, v) => k -> j.str(v) }: _*),
      "oracle_sql" -> j.obj(oracles.map { case (k, v) => k -> j.str(v) }.toSeq: _*))
    Files.writeString(Paths.get(s"${a.out}/run.json"), record)
    spark.stop()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Collection time of every collector of this JVM. */
  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Time the JIT compiler threads have spent compiling. */
  private def jitSeconds(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  private def procField(file: String, key: String): Option[String] =
    try Files.readAllLines(Paths.get(file)).asScala.find(_.startsWith(key))
    catch { case NonFatal(_) => None }

  private def vmHwmKb(): Double =
    procField("/proc/self/status", "VmHWM:")
      .map(_.split("\\s+")(1).toDouble).getOrElse(-1.0)

  /** The machine-wide CPU tick counters of /proc/stat (user, nice,
    * system, idle, iowait, irq, softirq, steal, ...); steal is time the
    * hypervisor gave this VM's vCPUs to someone else. */
  private def hostCpuTicks(): Array[Long] =
    procField("/proc/stat", "cpu ")
      .map(_.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty[Long])

  private def loadAvg(): Double =
    procField("/proc/loadavg", "").map(_.split(" ")(0).toDouble).getOrElse(-1.0)
}

/** Minimal JSON writer for the run record. */
object Json {
  def str(s: String): String = "\"" + graft.Strings.jsonEscape(s) + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(l: Long): String = l.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
