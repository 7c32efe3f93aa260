// Test shim: `SparkContext.listenerBus` is `private[spark]`.
package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession

object ListenerBusDrain {
  /** Returns once every event posted so far reached its listeners. */
  def awaitEmpty(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
