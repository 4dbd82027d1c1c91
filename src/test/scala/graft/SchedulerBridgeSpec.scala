package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftshim.SchedulerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the listener-bus drain `Telemetry.measure` relies on: after
  * [[SchedulerBridge.drainListenerBus]] returns, every task-end event
  * of already-completed jobs has been DELIVERED — no fixed-sleep race
  * in which late events are dropped from the measurement. */
class SchedulerBridgeSpec extends AnyFunSuite with SparkTestBase {

  test("drainListenerBus delivers every completed job's task-end event") {
    val sc = spark.sparkContext
    val seen = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        seen.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      val parts = 8
      sc.parallelize(1 to 1000, parts).map(_ * 2L).sum()
      SchedulerBridge.drainListenerBus(sc)
      // exactly one result stage of `parts` tasks ran after the
      // listener attached; all its task-end events must be delivered
      assert(seen.get() >= parts,
        s"expected >= $parts task-end events after drain, saw ${seen.get()}")
    } finally sc.removeSparkListener(listener)
  }
}
