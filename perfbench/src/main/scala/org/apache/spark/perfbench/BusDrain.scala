package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`; the harness
  * drains the bus before it reads the recorder, so every event of a
  * pass is counted in that pass.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
