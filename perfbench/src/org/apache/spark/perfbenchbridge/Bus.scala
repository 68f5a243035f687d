package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Bridge into the `private[spark]` listener bus: the benchmark reads its
  * listeners only after every event posted so far has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
