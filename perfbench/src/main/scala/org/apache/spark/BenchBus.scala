package org.apache.spark

/** The listener bus is `private[spark]`; this is the one call the benchmark
  * needs from it: block until every posted event has reached every
  * listener, so counts are read after the bus drains, not after a sleep. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
