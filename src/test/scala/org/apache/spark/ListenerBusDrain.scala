package org.apache.spark

/** The one package-private hook the suites need: wait until the
  * listener bus has delivered every posted event (job starts, query
  * execution callbacks) before a test reads what its listeners saw. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
