package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; counters read right
  * after an action would miss its last events. `waitUntilEmpty` is
  * package-private to Spark, hence this shim.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
