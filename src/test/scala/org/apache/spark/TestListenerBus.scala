package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so a spec that counts jobs reads a complete tally. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
