package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus: listener events are
  * delivered asynchronously, so a suite that counts jobs or shuffle bytes
  * drains the bus before and after the measured call. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
