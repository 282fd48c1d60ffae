package org.apache.spark

/** Lets a spec wait until every event posted so far has reached the
  * session's listeners, before it asserts on what they recorded. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
