package org.apache.spark

/** The driver's listener bus is `private[spark]`; the harness drains it at
  * every key boundary so that events delivered asynchronously (job, task,
  * query-execution and streaming-progress callbacks) are handled before the
  * key that posted them is closed. */
object PerfbenchBus {
  /** True when every queue emptied within `timeoutMs`. */
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
