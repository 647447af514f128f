package org.apache.spark

/** The one `private[spark]` call the benchmark's tracer needs: block
  * until every queued listener event has been delivered, so counters
  * are complete before they are attributed to spans.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
