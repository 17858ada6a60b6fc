package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered on Spark's asynchronous bus; a counter
  * read at an operation boundary is exact only after the bus has
  * drained. `waitUntilEmpty` is `private[spark]`, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
