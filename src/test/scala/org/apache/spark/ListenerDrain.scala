package org.apache.spark

/** Waits until every event posted so far has reached the listeners.
  * The listener bus is package-private, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
