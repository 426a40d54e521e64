package org.apache.spark

/** Test doorway to the package-private listener bus: block until every
  * event posted so far has reached the registered listeners. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
