package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.Success
import org.apache.spark.graftshim.SchedulerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

object TelemetrySpec {
  /** Successful task ends seen by the reference listener; read by the
    * failing task, which runs in the same JVM. */
  val succeeded = new AtomicInteger
}

/** [[Telemetry.measure]]: one task row per successful attempt, failed
  * stages counted, and the tap detached however the body ends. */
class TelemetrySpec extends AnyFunSuite with SparkTestBase {

  test("a failed task counts a failed stage and adds no task row") {
    val sc = spark.sparkContext
    val ends = new AtomicInteger
    val reference = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        ends.incrementAndGet()
        if (t.reason == Success) TelemetrySpec.succeeded.incrementAndGet()
        ()
      }
    }
    TelemetrySpec.succeeded.set(0)
    sc.addSparkListener(reference)
    val (tap, err) = try Telemetry.measure(spark) {
      // 4 tasks on 4 cores: partition 0 throws once the other three
      // have ended successfully, so the set of attempts is fixed
      sc.parallelize(0 until 4, 4).mapPartitionsWithIndex { (i, it) =>
        if (i == 0) {
          val t0 = System.nanoTime()
          while (TelemetrySpec.succeeded.get < 3 &&
              System.nanoTime() - t0 < 30000000000L) Thread.sleep(5)
          throw new IllegalStateException("planted task failure")
        }
        it
      }.count()
      ()
    } finally sc.removeSparkListener(reference)
    assert(err.isDefined)
    assert(tap.failed.get == 1)
    assert(ends.get == 4)
    assert(tap.tasks.size == 3)
    assert(tap.tasks.forall(_.stageId == tap.tasks.head.stageId))
  }

  test("measure detaches its tap when the body throws") {
    val (tap, err) = Telemetry.measure(spark) {
      spark.range(100).repartition(4).count()
      throw new IllegalStateException("planted body failure")
    }
    assert(err.exists(_.getMessage == "planted body failure"))
    val (jobs, rows) = (tap.jobs.get, tap.tasks.size)
    assert(jobs > 0 && rows > 0)
    spark.range(100).repartition(4).count()
    SchedulerBridge.drainListenerBus(spark.sparkContext)
    assert(tap.jobs.get == jobs)
    assert(tap.tasks.size == rows)
  }

  test("task rows carry shuffle traffic, and stages keep their names") {
    val (tap, err) = Telemetry.measure(spark) {
      spark.range(1000).repartition(4).count()
      ()
    }
    assert(err.isEmpty)
    assert(tap.wallS > 0)
    val rows = tap.tasks
    assert(rows.map(_.shuffleBytesWritten).sum > 0)
    assert(rows.map(_.shuffleRecordsRead).sum >= 1000)
    assert(rows.map(_.stageId).distinct.forall(tap.stageName(_).nonEmpty))
  }
}
