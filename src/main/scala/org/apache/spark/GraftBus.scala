package org.apache.spark

/** Waits until every listener has seen every event posted so far, so each
  * event can be charged to the span (bench entry, spec body) that caused
  * it. Spark exposes the listener bus only inside its own package, hence
  * this file's package. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
