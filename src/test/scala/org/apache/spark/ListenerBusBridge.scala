package org.apache.spark

/** Test access to the `private[spark]` listener bus: events reach
  * listeners asynchronously, so a test drains the bus before it reads
  * what a listener counted.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
