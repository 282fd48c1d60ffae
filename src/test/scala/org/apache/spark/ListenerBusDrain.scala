package org.apache.spark

/** Lets a spec wait until every event posted so far has reached the
  * session's listeners, before it asserts on what they recorded, and
  * count the listeners on the session's bus. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def listeners(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
