package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's counters are complete before it reads them. Lives in this
  * package because the bus is private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
