package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark reads its
  * listener only after every event posted so far has been delivered. The
  * bus is package-private to Spark, hence this accessor's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
