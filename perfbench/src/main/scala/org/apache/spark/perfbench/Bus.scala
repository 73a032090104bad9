package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus. Counters are read only
  * after every queued event has been delivered; a bus that does not
  * drain in time fails the run instead of yielding short counts. The
  * streaming progress bus rides on the same queue, so one drain covers
  * both listener kinds. */
object Bus {
  def drain(sc: SparkContext, timeoutMillis: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
