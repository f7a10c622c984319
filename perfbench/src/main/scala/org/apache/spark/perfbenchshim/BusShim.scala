package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; the traced benchmark
  * run drains it after each operation so every job, stage and task event
  * of that operation has been delivered before its ledger is read. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
