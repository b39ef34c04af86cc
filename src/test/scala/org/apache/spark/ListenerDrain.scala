package org.apache.spark

/** Test access to the listener bus: block until every event posted so
  * far has reached the listeners, so counts read afterwards are
  * complete.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
