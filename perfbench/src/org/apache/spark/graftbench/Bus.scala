package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus delivers job, task and query-execution events
  * asynchronously; the traced run drains it before reading the counters
  * it attributed to an op. `listenerBus` is `private[spark]`. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
