package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the tracer must see every task-end event before it sums counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
