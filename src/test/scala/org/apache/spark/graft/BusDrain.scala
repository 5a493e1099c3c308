package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so a
  * listener's counts are complete when read. The bus is `private[spark]`,
  * which is why this shim lives under the `org.apache.spark` package.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
