package org.apache.spark

/** The one `private[spark]` hop the benchmark's tracer needs: block until
  * every queued listener event has been delivered, so the events of one
  * operation are recorded before the next one starts. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => }
}
