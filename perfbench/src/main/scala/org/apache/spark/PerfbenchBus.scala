package org.apache.spark

/** Waits until every posted listener event has been delivered, so layer
  * counters read after a run include the last job's task-end events. The
  * listener bus is private to Spark, hence the package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
