package graft.streaming

import graft.SparkTestSession
import graft.sources.DataGen
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.graftshim.{ManualClockStreams, StreamManualClock}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.scalatest.funsuite.AnyFunSuite

/** Per-key running count whose ValueState expires after `ttlMs` of
  * processing time — the StateTtlConfig.newBuilder(…).cleanupXxx
  * analog. Top-level so the closure serializes without the suite.
  */
class TtlCounter(ttlMs: Long)
    extends StatefulProcessor[Long, (Long, Long), (Long, Long)] {
  @transient private var cnt: ValueState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    cnt = getHandle.getValueState[Long]("cnt", Encoders.scalaLong,
      TTLConfig(java.time.Duration.ofMillis(ttlMs)))
  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timerValues: TimerValues): Iterator[(Long, Long)] = {
    var c = Option(cnt.get()).getOrElse(0L)
    rows.foreach(_ => c += 1)
    cnt.update(c)
    Iterator.single((key, c))
  }
  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long)] =
    Iterator.empty
}

/** State TTL (reference: StateTtlConfig, SURVEY.md §2.10) and the
  * DataGen source (§2.1).
  */
class StateAndSourcesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("ValueState with TTL expires between micro-batches") {
    // processing time comes from a manual trigger clock: each batch's
    // timestamp (the TTL clock) is exactly the trigger time the test
    // advanced to, so expiry does not depend on how fast the box runs
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Long]
    val out = in.toDS().map(k => (k, 1L)).groupByKey(_._1)
      .transformWithState(new TtlCounter(ttlMs = 5000L),
        TimeMode.ProcessingTime(), OutputMode.Append())
    val clock = new StreamManualClock()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ttl")
    val (q, sink) = ManualClockStreams.startToMemory(out.toDF("key", "cnt"),
      ckpt.toString, OutputMode.Append(), Trigger.ProcessingTime(1000L),
      clock)
    // one batch per step: add the row, trigger at time `t`, wait for
    // that batch to finish
    def batchAt(t: Long): Unit = {
      in.addData(1L)
      clock.setTime(t)
      clock.awaitStreamWaitingAt(t)
    }
    try {
      clock.awaitStreamWaitingAt(0L)
      batchAt(1000L)  // count 1, expires at 6000
      batchAt(2000L)  // within TTL: count 2, expires at 7000
      batchAt(12000L) // expired: count restarts at 1
      val counts = sink.allData.map(_.getLong(1))
      assert(counts == Seq(1L, 2L, 1L), s"expected restart after TTL, got $counts")
    } finally q.stop()
  }

  test("DataGen bounded sequence is deterministic and distributed") {
    val df = DataGen.sequence(spark, 1000, numPartitions = 8,
      "user_id" -> DataGen.randLong("id", 50),
      "amount" -> DataGen.randDouble("id", 100.0))
    assert(df.count() == 1000)
    assert(df.rdd.getNumPartitions == 8)
    val a = df.agg(org.apache.spark.sql.functions.sum("user_id")).head().getLong(0)
    val b = DataGen.sequence(spark, 1000, 8,
      "user_id" -> DataGen.randLong("id", 50))
      .agg(org.apache.spark.sql.functions.sum("user_id")).head().getLong(0)
    assert(a == b) // reproducible across runs
    assert(df.filter("user_id < 0 OR user_id >= 50").count() == 0)
  }

  test("DataGen rate stream produces rows with generated fields") {
    val df = DataGen.rateStream(spark, rowsPerBatch = 10,
      "user_id" -> DataGen.randLong("id", 50))
    val q = df.writeStream.format("memory").queryName("rate_spec")
      .outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("rate_spec").isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(!spark.table("rate_spec").isEmpty)
      assert(spark.table("rate_spec")
        .filter("user_id < 0 OR user_id >= 50").count() == 0)
    } finally q.stop()
  }
}
