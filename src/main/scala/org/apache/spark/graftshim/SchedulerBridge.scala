package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; this bridge (in an
  * `org.apache.spark` subpackage, like the sql-side `graftshim`)
  * exposes the one hook measurement code needs: a DETERMINISTIC drain
  * of the async listener bus. In the engine its one caller is
  * `graft.Telemetry.measure`, which drains before it reads a tap, so
  * every task-end event of the measured body is counted; a fixed sleep
  * instead would drop late events on a loaded box. */
object SchedulerBridge {

  /** Block until every event posted to the listener bus so far has
    * been delivered to every registered listener (or `timeoutMs`
    * elapses — swallowed: a probe prefers a possibly-short count over
    * an exception after the measured work already succeeded). */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
