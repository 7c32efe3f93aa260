package graft.streaming

import graft.SparkTestSession
import graft.streaming.RetractingJoin.{RjChange, RjEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

class RetractingJoinSpec extends AnyFunSuite {
  import SparkTestSession._

  private def ev(key: Long, side: Int, kind: String, sec: Int, id: Long,
      value: Double): RjEvent = {
    val ts = java.sql.Timestamp.valueOf(
      f"2024-01-01 00:${sec / 60}%02d:${sec % 60}%02d")
    RjEvent(key, side, kind, ts.getTime, id, value)
  }

  /** RjEvent needs a watermark: rebuild the ts column from tsMs. */
  private def run(events: Seq[RjEvent]): Seq[(String, Long, Long, Double, Double)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[RjEvent]
    val stream = in.toDS()
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_millis($"tsMs"))
      .withWatermark("ts", "0 seconds")
      .drop("ts").as[RjEvent]
    val name = s"rj_spec_${System.nanoTime()}"
    val q = RetractingJoin(stream).toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData(events: _*)
      q.processAllAvailable()
      in.addData(ev(999L, 0, "I", 3599, 0L, 0.0))
      q.processAllAvailable()
      spark.table(name).as[RjChange].collect().toSeq
        .map(c => (c.rowKind, c.leftId, c.rightId, c.leftValue, c.rightValue))
    } finally q.stop()
  }

  test("update emits -U with old value and +U with new against stored rows") {
    val out = run(Seq(
      ev(1, 1, "I", 0, 10, 5.0),   // right row first
      ev(1, 0, "I", 10, 1, 100.0), // left insert → +I
      ev(1, 0, "U", 20, 1, 200.0)  // left update → -U(100) +U(200)
    ))
    assert(out.toSet == Set(
      ("+I", 1L, 10L, 100.0, 5.0),
      ("-U", 1L, 10L, 100.0, 5.0),
      ("+U", 1L, 10L, 200.0, 5.0)))
  }

  test("delete retracts with the last value; reinsert starts fresh") {
    val out = run(Seq(
      ev(1, 1, "I", 0, 10, 5.0),
      ev(1, 0, "I", 10, 1, 100.0),
      ev(1, 0, "U", 20, 1, 200.0),
      ev(1, 0, "D", 30, 1, 0.0),   // -D carries 200 (current), not 100
      ev(1, 0, "I", 40, 1, 300.0)  // same id again → plain +I
    ))
    assert(out.count(_._1 == "-D") == 1)
    assert(out.contains(("-D", 1L, 10L, 200.0, 5.0)))
    assert(out.contains(("+I", 1L, 10L, 300.0, 5.0)))
  }

  test("out-of-order arrival replays in (ts, side, id) order") {
    // arrival order scrambled: the update arrives before the insert
    val out = run(Seq(
      ev(1, 0, "U", 20, 1, 200.0),
      ev(1, 1, "I", 0, 10, 5.0),
      ev(1, 0, "I", 10, 1, 100.0)))
    assert(out.toSet == Set(
      ("+I", 1L, 10L, 100.0, 5.0),
      ("-U", 1L, 10L, 100.0, 5.0),
      ("+U", 1L, 10L, 200.0, 5.0)))
  }

  test("right-side changelog is symmetric") {
    val out = run(Seq(
      ev(1, 0, "I", 0, 1, 100.0),
      ev(1, 1, "I", 10, 10, 5.0),
      ev(1, 1, "U", 20, 10, 6.0),
      ev(1, 1, "D", 30, 10, 0.0)))
    assert(out.toSet == Set(
      ("+I", 1L, 10L, 100.0, 5.0),
      ("-U", 1L, 10L, 100.0, 5.0),
      ("+U", 1L, 10L, 100.0, 6.0),
      ("-D", 1L, 10L, 100.0, 6.0)))
  }

  test("update without prior insert emits only +U pairs") {
    val out = run(Seq(
      ev(1, 1, "I", 0, 10, 5.0),
      ev(1, 0, "U", 10, 1, 200.0)))
    assert(out.toSet == Set(("+U", 1L, 10L, 200.0, 5.0)))
  }
}
