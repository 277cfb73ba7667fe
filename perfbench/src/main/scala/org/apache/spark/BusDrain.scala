package org.apache.spark

/** Waits until every event posted so far has reached every listener, so
  * counters read after an action include all of that action's tasks. The
  * listener bus is package-private; this is the one call made through it. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
