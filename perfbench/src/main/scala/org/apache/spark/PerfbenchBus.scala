package org.apache.spark

/** The listener bus is private to Spark; the traced run needs to know that
  * every event posted so far has reached its listeners before it reads
  * them, and waiting on the bus is the only way to know that without
  * sleeping. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
