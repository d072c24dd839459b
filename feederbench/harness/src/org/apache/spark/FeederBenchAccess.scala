package org.apache.spark

/** The one package-private hook the benchmark needs: wait until every
  * listener event posted so far has been delivered, so a span's engine
  * counters are complete before they are read. */
object FeederBenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
