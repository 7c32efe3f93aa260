/*
 * Test shim: starts a streaming query on a manual trigger clock, the
 * way Spark's own state-TTL suites drive processing time. The query
 * manager's `startQuery(..., triggerClock)` and `ManualClock` are
 * `private[sql]` / `private[spark]` at the Scala level, so this lives
 * in a subpackage of `org.apache.spark.sql`.
 */
package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.streaming.sources.MemorySink
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.util.ManualClock

/** A manual clock that records the time at which the stream thread
  * started waiting for its next trigger. The processing-time trigger
  * waits only after the batch of the current trigger has finished, so
  * "waiting at t" means "the batch of trigger time t is done".
  */
class StreamManualClock extends ManualClock(0L) {
  private var waitStart: Option[Long] = None

  override def waitTillTime(targetTime: Long): Long = synchronized {
    waitStart = Some(getTimeMillis())
    notifyAll()
    try super.waitTillTime(targetTime)
    finally waitStart = None
  }

  /** Blocks until the stream thread waits at clock time `t`; fails
    * after a minute of real time.
    */
  def awaitStreamWaitingAt(t: Long): Unit =
    synchronized {
      val deadline = System.nanoTime() + 60000L * 1000000L
      while (!waitStart.contains(t)) {
        val leftMs = (deadline - System.nanoTime()) / 1000000L
        if (leftMs <= 0)
          throw new AssertionError(s"stream never waited at clock time $t")
        wait(leftMs)
      }
    }
}

object ManualClockStreams {

  /** Starts `df` into a fresh memory sink with a processing-time
    * `trigger` driven by `clock`; returns the query and the sink.
    */
  def startToMemory(df: DataFrame, checkpointDir: String,
      outputMode: OutputMode, trigger: Trigger,
      clock: StreamManualClock): (StreamingQuery, MemorySink) = {
    val sink = new MemorySink()
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val q = ds.sparkSession.streams.startQuery(None, Some(checkpointDir),
      ds, Map.empty, sink, outputMode, trigger = trigger,
      triggerClock = clock)
    (q, sink)
  }
}
