package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is delivered asynchronously; the harness drains it
  * before it reads what its listeners recorded. `listenerBus` is
  * package-private to Spark, hence this one-line bridge.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
