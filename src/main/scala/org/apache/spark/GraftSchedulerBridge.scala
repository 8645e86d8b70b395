package org.apache.spark

/** Bridge to the private[spark] listener-bus drain — graft.RunLedger
  * (and the mobility benchmark's meter) take per-run task counts, byte
  * volumes and streaming progress from a SparkListener, and those events
  * are delivered asynchronously, so each run's window must wait until
  * every queued event has been handled or the tail of one query's tasks
  * would be charged to the next.
  */
object GraftSchedulerBridge {

  /** Block until the listener bus is empty; false if the timeout passed
    * (snapshot still taken — one possibly-short count beats none) or the
    * bus is unavailable.
    */
  def drainListenerBus(sc: SparkContext, timeoutMillis: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMillis); true }
    catch { case scala.util.control.NonFatal(_) => false }
}
