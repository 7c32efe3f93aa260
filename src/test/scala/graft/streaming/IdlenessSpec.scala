package graft.streaming

import graft.SparkTestSession
import graft.streaming.TemporalSort.SortEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSessionBridge
import org.scalatest.funsuite.AnyFunSuite

/** Watermark idleness (Flink `WatermarksWithIdleness`): proves the two
  * stall shapes documented on [[StreamRunner.allowIdleSources]] —
  * an idle KEY never strands rows (the global watermark is the flush
  * clock), and an idle SOURCE in a union stalls the default
  * min-combined watermark until the `max` policy opts out.
  */
class IdlenessSpec extends AnyFunSuite {
  import SparkTestSession._

  private def ts(sec: Int) = java.sql.Timestamp.valueOf(
    f"2024-01-01 00:${sec / 60}%02d:${sec % 60}%02d")

  test("an idle key's buffered rows flush when other keys advance the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[SortEvent]
    val name = s"idle_key_${System.nanoTime()}"
    val q = TemporalSort(
        in.toDS().withWatermark("ts", "30 seconds").as[SortEvent]).toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // key 2 sends one row and goes idle; key 1 keeps talking
      in.addData(SortEvent(1L, ts(10).getTime, 1L, ts(10)),
        SortEvent(2L, ts(12).getTime, 2L, ts(12)))
      q.processAllAvailable()
      in.addData(SortEvent(1L, ts(100).getTime, 3L, ts(100)))
      q.processAllAvailable()
      in.addData(SortEvent(1L, ts(200).getTime, 4L, ts(200)))
      q.processAllAvailable()
      val emitted = spark.table(name).select($"key", $"id")
        .as[(Long, Long)].collect().toSet
      // key 2 got no events after t=12 yet its row emitted: the global
      // watermark (driven by key 1) passed it
      assert(emitted.contains((2L, 2L)))
    } finally q.stop()
  }

  test("idle union branch stalls the min-combined watermark; max policy unsticks it") {
    def run(policy: Option[String]): Seq[(Long, Long)] = {
      // a session of the run's own: the policy needs no restoring
      val s = GraftSessionBridge.cloneSession(spark)
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      policy match {
        case Some(_) => StreamRunner.allowIdleSources(s)
        case None => s.conf.set("spark.sql.streaming.multipleWatermarkPolicy", "min")
      }
      val inA = MemoryStream[(java.sql.Timestamp, Long)]
      val inB = MemoryStream[(java.sql.Timestamp, Long)]
      val name = s"idle_union_${System.nanoTime()}"
      val a = inA.toDF().toDF("ts", "v").withWatermark("ts", "0 seconds")
      val b = inB.toDF().toDF("ts", "v").withWatermark("ts", "0 seconds")
      val q = a.union(b)
        .groupBy(window($"ts", "10 seconds"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp($"window.start").as("win"), $"n")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        inA.addData((ts(5), 1L)); inB.addData((ts(5), 2L))
        q.processAllAvailable()
        // branch B goes idle; branch A keeps advancing
        inA.addData((ts(100), 3L))
        q.processAllAvailable()
        s.table(name).as[(Long, Long)].collect().toSeq.sortBy(_._1)
      } finally q.stop()
    }
    // default min policy: B's watermark is stuck at 5s, the [0,10s)
    // window never closes → nothing emits
    assert(run(None).isEmpty)
    // max policy: A's watermark (100s) drives the clock → the window
    // closes with both branches' rows
    val unstuck = run(Some("max"))
    assert(unstuck.map(_._2) == Seq(2L))
  }
}
