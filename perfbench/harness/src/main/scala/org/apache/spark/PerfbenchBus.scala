package org.apache.spark

/** The listener bus delivers events asynchronously; its drain call is
  * package-private, so the harness reaches it from this package. */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
