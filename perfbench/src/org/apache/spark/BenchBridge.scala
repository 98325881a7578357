package org.apache.spark

/** The one scheduler internal the benchmark needs: waiting until every
  * posted listener event has been delivered, so per-span tallies are
  * complete before they are read.
  */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
