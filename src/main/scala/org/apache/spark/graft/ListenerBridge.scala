package org.apache.spark.graft

import java.util.Properties

import org.apache.spark.SparkContext
import org.apache.spark.util.Utils

/** Bridge to `private[spark]` SparkContext state. Same package-bridge
  * technique as [[org.apache.spark.sql.graft.ColumnBridge]].
  *
  * The listener bus drain is the only way to read listener-fed counters
  * (task counts per bench query) at a DETERMINISTIC boundary: listener
  * events are delivered async, so a counter read right after an action
  * can miss the action's own tail events (or swallow the previous
  * query's). */
object ListenerBridge {
  def waitUntilEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(10000L)

  /** A copy of the calling thread's Spark local properties (job group,
    * job tags, scheduler pool, description). */
  def localProperties(sc: SparkContext): Properties =
    Utils.cloneProperties(sc.getLocalProperties)

  /** Runs `body` on the current thread under `props`, restoring the
    * thread's own properties afterwards: a pooled worker thread launches
    * its jobs in its caller's job group, so cancelling that group cancels
    * them too. */
  def withLocalProperties[T](sc: SparkContext, props: Properties)(body: => T): T = {
    val saved = sc.getLocalProperties
    sc.setLocalProperties(props)
    try body finally sc.setLocalProperties(saved)
  }
}
