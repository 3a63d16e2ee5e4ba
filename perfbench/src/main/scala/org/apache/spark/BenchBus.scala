package org.apache.spark

/** Synchronisation point for the benchmark's tracer: listener events are
  * delivered asynchronously, so a key's counters are read only after the
  * bus has delivered every event posted while the key ran. The bus is
  * `private[spark]`, hence this one-line shim in Spark's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
