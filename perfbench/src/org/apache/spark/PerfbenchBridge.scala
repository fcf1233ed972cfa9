package org.apache.spark

/** Access to the listener bus, which is private to Spark's own package:
  * the benchmark drains it before it reads what its listeners counted. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
