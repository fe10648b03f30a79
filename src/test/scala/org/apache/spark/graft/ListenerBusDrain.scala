package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus: listener events arrive asynchronously,
  * so a count read right after an action can miss its last jobs.
  * `waitUntilEmpty` is private to the spark package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
