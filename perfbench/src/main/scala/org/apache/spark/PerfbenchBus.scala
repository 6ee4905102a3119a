package org.apache.spark

/** Waits until every listener has seen every event posted so far. The
  * traced run calls it between entries, outside the timed window, so each
  * listener event is attributed to the entry that caused it. Spark exposes
  * the listener bus only inside its own package, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
