package org.apache.spark

/** Test access to the listener bus, which is `private[spark]`: a suite that
  * counts jobs with a listener drains the bus before reading its count.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
