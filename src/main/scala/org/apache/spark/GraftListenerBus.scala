package org.apache.spark

/** Package-placed forwarder: the listener bus delivers events on its own
  * thread, and `waitUntilEmpty`, the call that waits for it to catch up,
  * is `private[spark]`. A JVM runs at most one SparkContext, so the
  * active one is the context every listener hangs off.
  */
object GraftListenerBus {
  def drain(): Unit = SparkContext.getActive.foreach(_.listenerBus.waitUntilEmpty())
}
