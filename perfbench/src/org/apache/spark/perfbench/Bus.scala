package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; the tracer waits for the bus to
  * drain before it reads or detaches, so no job or stage of a traced pass
  * is lost. `listenerBus` is `private[spark]`, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
