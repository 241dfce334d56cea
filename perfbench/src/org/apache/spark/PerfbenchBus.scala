package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark's listeners have seen all jobs, stages and queries of the
  * call it just timed. The listener bus is package-private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
