package org.apache.spark

/** The one package-private hook the benchmark needs: wait for the
  * listener bus to deliver every posted event before counts are read. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
