package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus (`private[spark]`): listener counters are
  * only complete once every posted event has been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
