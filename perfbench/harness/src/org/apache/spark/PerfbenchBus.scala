package org.apache.spark

/** Access to the one `private[spark]` call the benchmark harness needs:
  * block until the async listener bus has delivered every queued event, so
  * counters read after a measured call are complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
