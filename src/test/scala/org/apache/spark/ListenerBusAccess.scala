package org.apache.spark

/** Test access to the driver's listener bus, which Spark keeps
  * package-private: draining it makes every event of the work before the
  * call visible to the listeners, so specs can count jobs exactly. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
