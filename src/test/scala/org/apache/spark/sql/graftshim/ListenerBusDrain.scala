// Test shim: `SparkContext.listenerBus` is `private[spark]`.
package org.apache.spark.sql.graftshim

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

object ListenerBusDrain {
  /** Returns once every event posted so far reached its listeners. */
  def awaitEmpty(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Streaming-listener buses registered on the SparkContext's bus. */
  def streamingBuses(spark: SparkSession): Int =
    spark.sparkContext.listenerBus.listeners.asScala
      .count(_.isInstanceOf[StreamingQueryListenerBus])
}
