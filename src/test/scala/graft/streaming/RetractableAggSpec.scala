package graft.streaming

import graft.SparkTestSession
import graft.streaming.RetractableAgg.{RaEvent, RaRow}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

class RetractableAggSpec extends AnyFunSuite {
  import SparkTestSession._

  private def ev(key: Long, kind: String, sec: Int, id: Long,
      value: Double): RaEvent = {
    val ts = java.sql.Timestamp.valueOf(
      f"2024-01-01 00:${sec / 60}%02d:${sec % 60}%02d")
    RaEvent(key, kind, ts.getTime, id, value)
  }

  private def run(events: Seq[RaEvent]): Seq[RaRow] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[RaEvent]
    val stream = in.toDS()
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_millis($"tsMs"))
      .withWatermark("ts", "0 seconds")
      .drop("ts").as[RaEvent]
    val name = s"ra_spec_${System.nanoTime()}"
    val q = RetractableAgg(stream).toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData(events: _*)
      q.processAllAvailable()
      in.addData(ev(999L, "+I", 3599, 0L, 0.0))
      q.processAllAvailable()
      spark.table(name).as[RaRow].collect().toSeq
        .filter(_.key != 999L).sortBy(_.seq)
    } finally q.stop()
  }

  test("retracting the current max falls back to the sorted multiset") {
    val out = run(Seq(
      ev(1, "+I", 0, 1, 10.0),
      ev(1, "+I", 10, 2, 5.0),
      ev(1, "-D", 20, 1, 10.0))) // delete the max
    assert(out.map(r => (r.cnt, r.sumCents, r.minCents, r.maxCents)) == Seq(
      (1L, 1000L, Some(1000L), Some(1000L)),
      (2L, 1500L, Some(500L), Some(1000L)),
      (1L, 500L, Some(500L), Some(500L)))) // max is 5.0, not 10.0
  }

  test("-U applies before its paired +U at the same timestamp") {
    val out = run(Seq(
      ev(1, "+I", 0, 1, 10.0),
      ev(1, "-U", 10, 1, 10.0),
      ev(1, "+U", 10, 1, 20.0)))
    assert(out.last.cnt == 1L && out.last.sumCents == 2000L)
    assert(out.last.maxCents == Some(2000L))
    // the intermediate -U emission shows the emptied state
    assert(out(1).cnt == 0L && out(1).minCents.isEmpty)
  }

  test("unmatched retraction is tolerated") {
    val out = run(Seq(
      ev(1, "+I", 0, 1, 10.0),
      ev(1, "-D", 10, 2, 99.0))) // never accumulated
    assert(out.last.cnt == 1L && out.last.sumCents == 1000L)
  }

  test("duplicate values retract one multiplicity at a time") {
    val out = run(Seq(
      ev(1, "+I", 0, 1, 7.0),
      ev(1, "+I", 10, 2, 7.0),
      ev(1, "-D", 20, 1, 7.0)))
    assert(out.last.cnt == 1L && out.last.maxCents == Some(700L))
  }

  test("snapshot emission: one row per fire, same final state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      ev(1, "+I", 0, 1, 10.0),
      ev(1, "+I", 10, 2, 5.0),
      ev(1, "-D", 20, 1, 10.0),
      ev(2, "+I", 5, 3, 3.0))
    val in = MemoryStream[RaEvent]
    val stream = in.toDS()
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_millis($"tsMs"))
      .withWatermark("ts", "0 seconds")
      .drop("ts").as[RaEvent]
    val name = s"ra_snap_${System.nanoTime()}"
    val q = RetractableAgg.snapshots(stream).toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData(events: _*)
      q.processAllAvailable()
      in.addData(ev(999L, "+I", 3599, 0L, 0.0))
      q.processAllAvailable()
      val out = spark.table(name).as[RaRow].collect().toSeq
        .filter(_.key != 999L)
      // all 4 events arrive in one batch → one fire per key → exactly
      // one emission per key (vs 4 for the per-record changelog), and
      // seq still counts every processed change
      assert(out.map(_.key).sorted == Seq(1L, 2L))
      val k1 = out.find(_.key == 1L).get
      assert(k1.seq == 3L && k1.cnt == 1L && k1.sumCents == 500L &&
        k1.maxCents == Some(500L))
      val k2 = out.find(_.key == 2L).get
      assert(k2.cnt == 1L && k2.sumCents == 300L)
    } finally q.stop()
  }
}
