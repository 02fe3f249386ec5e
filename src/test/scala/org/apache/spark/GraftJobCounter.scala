package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Package-placed test forwarder: the listener bus drains through the
  * `private[spark]` `waitUntilEmpty`, so a count taken right after the
  * block holds every job the block started and none from before it.
  */
object GraftJobCounter {
  def jobsIn(sc: SparkContext)(body: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(l)
    try { body; sc.listenerBus.waitUntilEmpty() } finally sc.removeSparkListener(l)
    n.get
  }
}
