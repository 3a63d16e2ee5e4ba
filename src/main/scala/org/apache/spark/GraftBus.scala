package org.apache.spark

/** Waits until the listener bus has delivered every posted event (Spark
  * throws a TimeoutException after 10 s); the bus is `private[spark]`. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
