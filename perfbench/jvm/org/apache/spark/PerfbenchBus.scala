package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's view of an operation is complete when the operation's call
  * returns. The bus is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
