package org.apache.spark

/** The listener bus delivers events asynchronously; its drain call is
  * private to Spark, so the benchmark reaches it from Spark's package. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
