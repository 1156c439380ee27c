package org.apache.spark

/** Access to the one SparkContext internal the benchmark needs: waiting
  * until every listener event posted so far has been delivered, so that
  * per-layer totals are complete before they are read. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
