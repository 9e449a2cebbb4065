package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * counters read at a span boundary include all jobs that ended before it.
  */
object HbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
