package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `listenerBus` is `private[spark]`; the harness needs it drained
  * before it reads what its listeners collected for a pass. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
