package org.apache.spark

/** The one package-private hook the specs need: wait until every
  * listener event posted so far has been delivered, so a listener's
  * counts are complete before a spec reads them. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
