package org.apache.spark

/** Waits until every listener has seen every event posted so far, so a
  * spec can count the jobs an action launched. Spark exposes the listener
  * bus only inside its own package, hence this file's package. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
