package org.apache.spark.graft

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext

/** Bridge into `private[spark] SparkContext.listenerBus` so probe tools
  * can block until every queued listener event has been DELIVERED
  * before reading or detaching their listener — a fixed sleep can
  * silently drop late async events. Same namespace-only pattern as
  * [[org.apache.spark.sql.graft.ColumnBridge]].
  */
object ListenerBridge {

  /** Wait (bounded) until the listener bus queue is empty; throws
    * `TimeoutException` when it is not. perfbench's trace marks an op
    * incomplete on that exception.
    */
  def drain(sc: SparkContext, timeoutMillis: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)

  /** [[drain]] that reports instead of throwing: `true` once the bus is
    * empty, `false` if it is still busy after `timeoutMillis`.
    */
  def tryDrain(sc: SparkContext, timeoutMillis: Long = 30000L): Boolean =
    try { drain(sc, timeoutMillis); true }
    catch { case _: TimeoutException => false }
}
