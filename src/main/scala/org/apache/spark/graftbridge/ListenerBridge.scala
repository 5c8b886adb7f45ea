package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Access shim for `SparkContext.listenerBus` (`private[spark]`), in the
  * same pattern as [[org.apache.spark.ml.graftbridge.AlsBridge]]: the one
  * member the instrumentation needs, nothing else.
  *
  * Why it exists: `SparkListener.onTaskEnd` events are delivered
  * asynchronously on the listener bus, so a harness that snapshots
  * listener-accumulated per-batch counters immediately after
  * `processAllAvailable()` can attribute late-delivered task events to the
  * FOLLOWING batch — muddying exactly the outlier-batch diagnosis the
  * counters exist for. Draining the bus before the snapshot closes that
  * window (r10 advice; `Harness.Meter` drains before every snapshot).
  */
object ListenerBridge {
  /** Block until every queued listener event has been delivered, or
    * `timeoutMs` elapses. Returns false on timeout (callers print the
    * possibly-skewed numbers anyway — a stuck bus should not hang a
    * bench). */
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
