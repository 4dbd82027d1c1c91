package graft

import org.apache.spark.sql.SparkSession

/** The one local session configuration every harness and the test
  * suite run on: `local[cpus]`, as many shuffle partitions as cores,
  * UTC session time zone, UI off, log level WARN. */
object Session {

  /** `SPARK_GRAFT_CPUS`, else the machine's processor count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = Session.cpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
