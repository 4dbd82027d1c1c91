package perfbench

import org.apache.spark.graftshim.SchedulerBridge
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The Probe attributes jobs through the job group of the submitting
  * thread, and sees eager executions (localCheckpoint) as well as the
  * final action. Run with `sbt test` in perfbench/. */
class ProbeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("jobs carry the job group of the span that submitted them") {
    val sc = spark.sparkContext
    val probe = new Probe
    sc.addSparkListener(probe)
    spark.listenerManager.register(probe)
    try {
      sc.setJobGroup("pb:0:build", "q", interruptOnCancel = false)
      val cp = spark.range(0, 1000).selectExpr("id % 7 AS k").localCheckpoint()
      sc.setJobGroup("pb:0:exec", "q", interruptOnCancel = false)
      cp.groupBy("k").count().write.format("noop").mode("overwrite").save()
      sc.clearJobGroup()
      spark.range(0, 10).count()
      SchedulerBridge.drainListenerBus(sc)
    } finally {
      sc.removeSparkListener(probe)
      spark.listenerManager.unregister(probe)
    }
    val groups = probe.jobs.map(_.group).toSet
    assert(groups == Set("pb:0:build", "pb:0:exec", ""))
    assert(probe.jobs.forall(_.ok))
    assert(probe.jobs.filter(_.group == "pb:0:build").forall(j => j.endMs >= j.startMs))
    // the eager checkpoint, the noop overwrite and the count
    assert(probe.executions.map(_.func) == Seq("localCheckpoint", "overwrite", "count"))
    assert(probe.stages.values.forall(s => s.tasks > 0 && s.failedTasks == 0))
    assert(probe.stages.values.exists(_.shuffleWriteBytes > 0))
  }
}
