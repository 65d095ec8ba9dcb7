package org.apache.spark

/** The listener bus is private to Spark. Specs that count listener events
  * drain it after their action, so every event posted before the drain has
  * been delivered when they read their counts. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
