package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads
  * its counters only after the bus has caught up. `waitUntilEmpty` is
  * package-private to Spark, hence this one-method bridge.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
