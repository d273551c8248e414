package org.apache.spark

/** The one package-private Spark call the benchmark needs: waiting until
  * every posted listener event has been delivered. */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
