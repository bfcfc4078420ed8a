package org.apache.spark

/** Test access to the listener bus: listeners are called asynchronously,
  * so a spec draining the bus before it reads a listener's count sees
  * every event the jobs it ran have posted. `listenerBus` is
  * `private[spark]`, hence this package.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
