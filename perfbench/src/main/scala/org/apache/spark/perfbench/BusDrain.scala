package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so task
  * metrics read after a call are complete. The bus is `private[spark]`, which
  * is why this one-line shim lives under the `org.apache.spark` package.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
