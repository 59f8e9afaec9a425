package org.apache.spark.graftbus

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a job ledger waits
  * for it to drain before and after the block it counts. The bus is
  * `private[spark]`, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
