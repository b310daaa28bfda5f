package org.apache.spark

/** Listener-bus access the public API does not offer: the benchmark's
  * recorder must see every event posted for an operation before it reads
  * its counters, so it blocks until the bus has delivered them instead of
  * sleeping for a guessed interval. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
