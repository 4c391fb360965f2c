package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * counters read before the bus is empty would miss the last tasks. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
