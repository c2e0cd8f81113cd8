package org.apache.spark

/** Package-access shim: `listenerBus` is `private[spark]`, and specs
  * that read listener-fed state (query execution listeners, RDD
  * storage status) must drain it first. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
