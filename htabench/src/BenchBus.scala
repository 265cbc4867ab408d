package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * trace is complete before it is summarized (the bus is `private[spark]`). */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
