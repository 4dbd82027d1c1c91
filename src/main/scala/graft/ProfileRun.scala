package graft

/** Stage-level profiling harness — dev tooling only, NOT part of the
  * driver contract (Bench stays byte-identical; this main exists so a
  * query's wall can be attributed to stages without editing the timed
  * path). Runs the named queries twice each (pass 2 is the steady-state
  * one) through the noop sink under [[Telemetry.measure]] and prints,
  * per pass, the wall, jobs and the ten stages with the most summed
  * task time, with their GC and shuffle read/write.
  *
  * Usage: runMain graft.ProfileRun <sfDir> <q1,q2,...>
  */
object ProfileRun {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = Session.local()
    for (name <- names; pass <- 1 to 2) {
      val (tap, err) = Telemetry.measure(spark) {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      Checkpoints.releaseAll(spark)
      err.foreach(throw _)
      val rows = tap.tasks
      println(f"[profile] $name pass$pass ${tap.wallS}%.2f s  " +
        f"jobs ${tap.jobs.get} stages ${tap.completedOk.get} tasks ${rows.size}")
      println("[profile]   stage  tasks   task_s    gc_s  shr_MB  shw_MB  name")
      rows.groupBy(_.stageId).toSeq
        .sortBy { case (id, ts) => (-ts.map(_.durationMs).sum, id) }.take(10)
        .foreach { case (id, ts) =>
          def sum(f: Telemetry.TaskRow => Long) = ts.map(f).sum
          println(f"[profile]   $id%5d  ${ts.size}%5d  " +
            f"${sum(_.durationMs) / 1e3}%7.2f  ${sum(_.gcMs) / 1e3}%6.2f  " +
            f"${sum(_.shuffleBytesRead) / 1048576.0}%6.1f  " +
            f"${sum(_.shuffleBytesWritten) / 1048576.0}%6.1f  " +
            tap.stageName(id).take(80))
        }
    }
    spark.stop()
  }
}
