package org.apache.spark

/** Drains Spark's listener bus, so the traced run reads complete job, task
  * and query events after each measured window. Lives in this package
  * because the bus is package-private. */
object PerfbenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
