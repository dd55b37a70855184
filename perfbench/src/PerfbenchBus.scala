package org.apache.spark

/** The listener bus is delivered asynchronously; the harness waits for it
  * to empty before reading its counters at a span edge. `listenerBus` is
  * package-private to Spark, hence this one-line shim in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
