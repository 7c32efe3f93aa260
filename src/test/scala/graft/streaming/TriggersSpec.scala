package graft.streaming

import graft.SparkTestSession
import graft.streaming.Triggers.{CtFire, DtFire, TrEvent}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

class TriggersSpec extends AnyFunSuite {
  import SparkTestSession._

  private def ts(sec: Int) = java.sql.Timestamp.valueOf(
    f"2024-01-01 00:${sec / 60}%02d:${sec % 60}%02d")

  private def ev(key: Long, sec: Int, id: Long, v: Double) =
    TrEvent(key, ts(sec).getTime, id, v)

  /** Runs `op` over `batches`, then over a key-999 flush at the end of
    * the hour, into a memory sink; `read` gets the sink.
    */
  private def run[R](batches: Seq[Seq[TrEvent]])(
      op: Dataset[TrEvent] => Dataset[_])(read: DataFrame => R): R = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TrEvent]
    val name = s"tr_${System.nanoTime()}"
    val q = op(in.toDS()
        .withColumn("ts", org.apache.spark.sql.functions.timestamp_millis($"tsMs"))
        .withWatermark("ts", "30 seconds")
        .drop("ts").as[TrEvent]).toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      in.addData(ev(999L, 3599, 0L, 0.0))
      q.processAllAvailable()
      read(spark.table(name))
    } finally q.stop()
  }

  private def runDelta(batches: Seq[Seq[TrEvent]], threshold: Double,
      purge: Boolean = false): Seq[DtFire] = {
    import spark.implicits._
    run(batches)(Triggers.deltaTrigger(_, threshold, purge))(_.as[DtFire]
      .collect().toSeq.filter(_.key != 999L).sortBy(f => (f.key, f.n)))
  }

  private def runCont(batches: Seq[Seq[TrEvent]], winMs: Long,
      intervalMs: Long): Seq[CtFire] = {
    import spark.implicits._
    run(batches)(Triggers.continuousTrigger(_, winMs, intervalMs))(_.as[CtFire]
      .collect().toSeq.filter(_.key != 999L).sortBy(f => (f.key, f.winStart, f.fireMs)))
  }

  test("delta trigger fires when the value exceeds the seed by > threshold") {
    val out = runDelta(Seq(Seq(
      ev(1, 0, 1, 10.0), ev(1, 10, 2, 50.0), ev(1, 20, 3, 120.0),
      ev(1, 30, 4, 115.0), ev(1, 40, 5, 230.0))), threshold = 100.0)
    // seed 10 → 120 fires (n=3, sum 180.00), seed 120 → 230 fires
    assert(out == Seq(DtFire(1, 3, 3, 18000), DtFire(1, 5, 5, 52500)))
  }

  test("purging delta trigger resets the aggregate on fire, keeps the seed") {
    val out = runDelta(Seq(Seq(ev(1, 0, 1, 10.0), ev(1, 10, 2, 120.0),
      ev(1, 20, 3, 50.0), ev(1, 30, 4, 260.0))), 100.0, purge = true)
    // fire at 120 (n=2, 10+120), purge; fire at 260 (n=2, 50+260)
    assert(out.toSet == Set(DtFire(1, 2, 2, 13000), DtFire(1, 4, 2, 31000)))
  }

  test("continuous trigger fires each boundary with rows ts <= boundary") {
    val out = runCont(Seq(Seq(
      ev(1, 5, 1, 1.0), ev(1, 25, 2, 2.0), ev(1, 50, 3, 4.0))),
      winMs = 60000L, intervalMs = 20000L)
    // chain from first row (5s): 20s → n=1, 40s → n=2, 60s (end) → n=3
    val base = ts(0).getTime
    assert(out == Seq(
      CtFire(1, base, base + 20000, 1, 100),
      CtFire(1, base, base + 40000, 2, 300),
      CtFire(1, base, base + 60000, 3, 700)))
  }

  test("continuous trigger: one batch == split batches (replay invariance)") {
    val events = (1 to 20).map { i =>
      ev(i % 2, i * 10, i.toLong, i.toDouble)
    }
    val one = runCont(Seq(events), 60000L, 30000L)
    val three = runCont(events.grouped(7).toSeq, 60000L, 30000L)
    assert(one.nonEmpty && one == three)
  }

  test("delta trigger: one batch == split batches (seed hand-off)") {
    val events = (1 to 20).map { i =>
      ev(i % 2, i * 10, i.toLong, (i % 5) * 60.0)
    }
    val one = runDelta(Seq(events), 100.0)
    val three = runDelta(events.grouped(6).toSeq, 100.0)
    assert(one.nonEmpty && one == three)
  }
}
