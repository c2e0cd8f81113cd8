package org.apache.spark

/** Package-access shim: `listenerBus` is `private[spark]`, and the
  * benchmark must drain it before it reads listener totals. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
