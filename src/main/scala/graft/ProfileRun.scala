package graft

import org.apache.spark.sql.SparkSession

/** Stage-level profiling harness — dev tooling only, NOT part of the
  * driver contract (Bench stays byte-identical; this main exists so a
  * query's wall can be attributed to stages without editing the timed
  * path). Runs the named queries twice each (pass 2 is the steady-state
  * one) through the noop sink with `setJobDescription("<query>#<pass>")`
  * so an event log (enable via `-Dspark.eventLog.enabled=true
  * -Dspark.eventLog.dir=...`) can be grouped by query and pass —
  * `tools/stage_profile.py` renders the breakdown.
  *
  * Usage: runMain graft.ProfileRun <sfDir> <q1,q2,...>
  */
object ProfileRun {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .appName("graft-profile")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      for (pass <- 1 to 2) {
        spark.sparkContext.setJobDescription(s"$name#$pass")
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        Checkpoints.releaseAll(spark)
        println(f"[profile] $name pass$pass $dt%.2f s")
      }
      spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}
