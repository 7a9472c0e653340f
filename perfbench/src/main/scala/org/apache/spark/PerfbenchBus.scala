package org.apache.spark

/** Access to the `private[spark]` listener bus, so the collector can wait
  * until every event of a finished action has been delivered before it
  * reads the counters around a span.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
}
