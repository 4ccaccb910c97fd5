package org.apache.spark

/** Reaches the listener bus's drain, which Spark keeps package-private, so a
  * spec reads what its listeners captured only after every event has been
  * delivered.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
