package org.apache.spark.graft

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus — lets measurement
  * tooling ([[graft.tools.Profile]]) drain queued listener events
  * DETERMINISTICALLY between queries instead of sleeping a heuristic
  * 120 ms and hoping the async bus caught up (ADVICE r16: counters
  * were reset while the bus could still be delivering the previous
  * query's events). Same sanctioned third-party-extension pattern as
  * [[org.apache.spark.sql.graft.ColumnBridge]]. */
object ListenerBridge {
  /** Block until every queued listener event has been delivered, or
    * `timeoutMillis` elapses (a timeout is logged and the measurement
    * goes on). An interrupt propagates with the thread's interrupt
    * flag still set. */
  def drain(sc: SparkContext, timeoutMillis: Long = 5000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMillis)
    catch {
      case e: TimeoutException =>
        System.err.println(s"listener bus not drained in $timeoutMillis ms: ${e.getMessage}")
      case e: InterruptedException =>
        Thread.currentThread().interrupt()
        throw e
    }
}
