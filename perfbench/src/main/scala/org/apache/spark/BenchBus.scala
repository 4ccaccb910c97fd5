package org.apache.spark

/** Reaches the listener bus's drain, which Spark keeps package-private, so
  * counters are read only after every task-end event has been delivered.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
