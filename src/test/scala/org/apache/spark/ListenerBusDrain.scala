package org.apache.spark

/** Blocks until every event posted so far has reached every listener, so
  * a spec reads a listener's counts only after the work it ran. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
