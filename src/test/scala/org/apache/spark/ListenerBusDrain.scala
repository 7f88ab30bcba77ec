package org.apache.spark

/** Test bridge into private[spark] surface: block until every listener
  * has seen the events posted so far, so job counts read from the status
  * store are complete. No behavior, just visibility. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
