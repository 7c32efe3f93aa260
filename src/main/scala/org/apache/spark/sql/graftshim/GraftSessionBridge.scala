/*
 * Accessor shim, as GraftColumnBridge: `classic.SparkSession.cloneSession`
 * and `classic.Dataset.ofRows` are `private[sql]` in Spark 4.1.2.
 */
package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

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
}
