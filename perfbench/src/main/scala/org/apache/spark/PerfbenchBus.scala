package org.apache.spark

/** The listener bus is private to Spark; a traced run must wait until
  * every job and progress event has been delivered before it reads them.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
