package org.apache.spark

/** The listener bus delivers events asynchronously; its drain is not
  * public, so the harness reaches it from inside Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
