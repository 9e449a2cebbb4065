package org.apache.spark

/** Test access to the listener bus, which is private to Spark. */
object ListenerBusDrain {
  /** Block until every event posted so far has reached every listener. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
