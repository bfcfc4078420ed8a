package org.apache.spark

/** Listener-bus access: listeners are called asynchronously, so a
  * caller draining the bus before it reads a listener's record sees
  * every event the jobs it ran have posted. `listenerBus` is
  * `private[spark]`, hence this package.
  */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
