package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; counters read before it
  * drains would miss the tail of the last job. `waitUntilEmpty` is
  * `private[spark]`, hence this one-line accessor in Spark's namespace. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
