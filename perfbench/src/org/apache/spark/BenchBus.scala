package org.apache.spark

/** The listener bus is private to Spark; the tracer needs to wait until it
  * has delivered every event before it attributes jobs and queries.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
