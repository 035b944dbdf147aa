package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * The traced run calls it between ops, outside the op timer, so each
  * op's listener records are complete before they are read. */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
