package org.apache.spark

/** The one scheduler internal the benchmark needs: waiting until the
  * listener bus has delivered every event, so traced counts are complete
  * before they are read. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
