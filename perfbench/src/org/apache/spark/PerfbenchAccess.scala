package org.apache.spark

/** The one package-private hook the benchmark needs: wait until every
  * listener event posted so far has been delivered, so per-action
  * accounting reads complete numbers. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
