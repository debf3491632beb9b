package org.apache.spark

/** Lets the benchmark wait until every listener event of the jobs it
  * traced has been delivered (the bus is asynchronous, and the wait is
  * package-private to Spark).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
