package graft.streaming

import graft.SparkTestSession
import graft.streaming.EvictingWindow.{Evictor, EwEvent, EwOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

class EvictingWindowSpec extends AnyFunSuite {
  import SparkTestSession._

  private def ev(key: Long, sec: Int, id: Long, value: Double): EwEvent = {
    val ts = java.sql.Timestamp.valueOf(
      f"2024-01-01 00:${sec / 60}%02d:${sec % 60}%02d")
    EwEvent(key, ts.getTime, id, value)
  }

  private def run(winMs: Long, evictor: Evictor,
      events: Seq[EwEvent]): Seq[EwOut] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[EwEvent]
    val stream = in.toDS()
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_millis($"tsMs"))
      .withWatermark("ts", "0 seconds")
      .drop("ts").as[EwEvent]
    val name = s"ew_spec_${System.nanoTime()}"
    val q = EvictingWindow(stream, winMs, evictor).toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData(events: _*)
      q.processAllAvailable()
      in.addData(ev(999L, 3500, 0L, 0.0)) // advance the watermark
      q.processAllAvailable()
      spark.table(name).as[EwOut].collect().toSeq
        .filter(_.key != 999L).sortBy(o => (o.key, o.winStart))
    } finally q.stop()
  }

  test("count evictor keeps the last k elements of each window") {
    // 60s windows; 4 events in the first window, keep last 2
    val out = run(60000L, Evictor.CountEvictor(2), Seq(
      ev(1, 0, 1, 1.0), ev(1, 10, 2, 2.0), ev(1, 20, 3, 3.0),
      ev(1, 30, 4, 4.0), ev(1, 70, 5, 9.0)))
    assert(out.head.cnt == 2L && out.head.sum == 7.0) // 3.0 + 4.0
    assert(out.map(_.winStart).distinct.size == 2)
  }

  test("time evictor keeps elements younger than windowMax - keepMs") {
    // keep 15s: window max is t=30 → survivors t>15: 20 and 30
    val out = run(60000L, Evictor.TimeEvictor(15000L), Seq(
      ev(1, 0, 1, 1.0), ev(1, 10, 2, 2.0), ev(1, 20, 3, 3.0),
      ev(1, 30, 4, 4.0), ev(1, 70, 5, 9.0)))
    assert(out.head.cnt == 2L && out.head.sum == 7.0)
  }

  private val base = ev(1, 0, 0, 0.0).tsMs // 2024-01-01 00:00:00 epoch ms

  test("windows fire once the watermark passes their end, even without new input") {
    val out = run(60000L, Evictor.CountEvictor(10), Seq(
      ev(1, 0, 1, 1.0), ev(1, 59, 2, 2.0)))
    // only the flush event advanced the watermark past the window end
    assert(out == Seq(EwOut(1L, base, 2L, 3.0)))
  }

  test("out-of-order arrival sorts before eviction") {
    val out = run(60000L, Evictor.CountEvictor(1), Seq(
      ev(1, 30, 2, 5.0), ev(1, 0, 1, 1.0))) // latest by ts is id=2
    assert(out == Seq(EwOut(1L, base, 1L, 5.0)))
  }

  test("delta evictor drops elements far from the window's last element") {
    // last element value 10.0, threshold 4: keep 8.0 and 10.0 only
    val out = run(60000L, Evictor.DeltaEvictor(4.0), Seq(
      ev(1, 0, 1, 1.0), ev(1, 10, 2, 8.0), ev(1, 20, 3, 20.0),
      ev(1, 30, 4, 10.0)))
    assert(out == Seq(EwOut(1L, base, 2L, 18.0)))
  }
}
