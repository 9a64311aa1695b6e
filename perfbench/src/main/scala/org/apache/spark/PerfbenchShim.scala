package org.apache.spark

/** The listener bus is package-private to Spark; the traced run needs
  * to wait for it so counts read after an op include that op's events. */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
