package org.apache.spark

/** The listener bus is private to Spark; traced passes drain it after each
  * op so that every job, stage and task event of the op has been delivered
  * before the op's layer counters are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
