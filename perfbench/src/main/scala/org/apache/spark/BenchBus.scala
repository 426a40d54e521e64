package org.apache.spark

/** The one Spark-internal hook the traced run needs: draining the
  * listener bus when a span closes, so every event a span caused is
  * attributed before the next span opens. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
