/*
 * Accessor shim, as GraftColumnBridge: `classic.SparkSession.cloneSession`,
 * `classic.Dataset.ofRows`, a query's own session and the SparkContext's
 * listener bus are `private[sql]` / `private[spark]` in Spark 4.1.2.
 */
package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.runtime.{StreamingQueryListenerBus,
  StreamingQueryWrapper}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

object GraftSessionBridge {
  /** Same SparkContext; a copy of the conf, temp views, functions and
    * query-execution listeners, which later changes on either side do
    * not reach.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `plan` as a DataFrame bound to `spark`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The session a started query runs its micro-batches in (a clone
    * of the session that started it). */
  def streamSession(q: StreamingQuery): SparkSession =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.sparkSessionForStream

  /** Unregisters from the SparkContext's listener bus the
    * streaming-listener bus that holds `marker`: the one a session's
    * query manager added, and which it never removes. */
  def dropListenerBus(spark: SparkSession, marker: StreamingQueryListener): Unit = {
    val bus = spark.sparkContext.listenerBus
    bus.listeners.asScala.collect {
      case b: StreamingQueryListenerBus if b.listeners.contains(marker) => b
    }.foreach(bus.removeListener)
  }
}
