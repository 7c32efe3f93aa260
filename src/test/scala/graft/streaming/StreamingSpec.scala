package graft.streaming

import java.sql.Timestamp

import graft.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MemoryStream-driven end-to-end specs for the streaming operators:
  * records are fed batch by batch so the watermark actually advances
  * between micro-batches (the fixture-file path in StreamingQueries only
  * exercises the single-batch + no-data-batch flow).
  */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  test("tumbling window agg emits only watermark-closed windows, per batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val agg = in.toDF().toDF("ts", "k")
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "10 minutes"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("w"), col("k"), col("n"))
    val q = agg.writeStream.format("memory").queryName("tumble_spec")
      .outputMode("append").start()
    try {
      in.addData((ts(1), "a"), (ts(5), "a"), (ts(7), "b"))
      q.processAllAvailable()
      // watermark = 00:07 → no window closed yet
      assert(spark.table("tumble_spec").count() == 0)
      in.addData((ts(12), "a"))
      q.processAllAvailable()
      // watermark = 00:12 → [00:00,00:10) closed: a=2, b=1
      val closed = spark.table("tumble_spec").orderBy("k").collect()
      assert(closed.map(r => (r.getString(1), r.getLong(2))).toSeq ==
        Seq(("a", 2L), ("b", 1L)))
      // late row behind the watermark is dropped, not re-fired
      in.addData((ts(3), "a"))
      q.processAllAvailable()
      assert(spark.table("tumble_spec").count() == 2)
    } finally q.stop()
  }

  test("WindowedTopN emits final per-window top-n when the timer fires") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Long, Double)]
    val winSec = 600L
    val ev = in.toDF().toDF("ts", "grp", "id", "value")
      .withWatermark("ts", "0 seconds")
      .select(col("grp"),
        (floor(unix_timestamp(col("ts")) / winSec) * winSec).as("winStartSec"),
        ((floor(unix_timestamp(col("ts")) / winSec) + 1) * winSec * 1000)
          .as("winEndMs"),
        col("id"), col("value"), col("ts"))
      .as[TopNEvent]
    val q = WindowedTopN(ev, n = 2).toDF()
      .writeStream.format("memory").queryName("topn_spec")
      .outputMode("append").start()
    try {
      in.addData((ts(1), "g", 1L, 5.0), (ts(2), "g", 2L, 9.0),
        (ts(3), "g", 3L, 9.0), (ts(4), "g", 4L, 1.0))
      q.processAllAvailable()
      assert(spark.table("topn_spec").count() == 0) // window still open
      in.addData((ts(11), "g", 5L, 7.0))
      q.processAllAvailable()
      // timer at 00:10 fired: top-2 by (value desc, id asc) → id 2 then 3
      val rows = spark.table("topn_spec").orderBy("rnk").collect()
      assert(rows.map(r => (r.getInt(2), r.getLong(3), r.getDouble(4))).toSeq ==
        Seq((1, 2L, 9.0), (2, 3L, 9.0)))
    } finally q.stop()
  }

  test("LateSplit tags ontime/late/dropped against the per-key watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long)] // (key, tsMs, id)
    val ev = in.toDF().toDF("key", "tsMs", "id")
      .as[LateSplit.LsEvent]
    // delay 60s, allowedLateness 120s
    val q = LateSplit(ev, delayMs = 60000L, allowedMs = 120000L).toDF()
      .writeStream.format("memory").queryName("latesplit_spec")
      .outputMode("append").start()
    try {
      in.addData((1L, 600000L, 1L)) // first row: watermark unset → ontime
      q.processAllAvailable()
      // wm = 600000 - 60000 = 540000
      in.addData(
        (1L, 550000L, 2L), // ≥ wm → ontime
        (1L, 500000L, 3L), // in [wm-120s, wm) → late (would re-fire)
        (1L, 300000L, 4L), // < wm-120s → dropped (side output)
        (2L, 100000L, 5L)) // different key: own watermark → ontime
      q.processAllAvailable()
      val rows = spark.table("latesplit_spec").orderBy("id")
        .collect().map(r => (r.getLong(1), r.getString(3))).toSeq
      assert(rows == Seq(1L -> "ontime", 2L -> "ontime", 3L -> "late",
        4L -> "dropped", 5L -> "ontime"))
    } finally q.stop()
  }

  test("streaming parquet file sink with checkpoint (exactly-once files)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_fsink").toString
    val in = MemoryStream[(Timestamp, Long)]
    val q = in.toDF().toDF("ts", "v")
      .writeStream.format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .outputMode("append").start()
    try {
      in.addData((ts(1), 1L), (ts(2), 2L))
      q.processAllAvailable()
      in.addData((ts(3), 3L))
      q.processAllAvailable()
    } finally q.stop()
    // the _spark_metadata commit log makes the read see exactly the
    // committed files — the StreamingFileSink exactly-once analog
    val back = spark.read.parquet(s"$tmp/out")
    assert(back.count() == 3)
    assert(back.agg(sum(col("v"))).head().getLong(0) == 6L)
  }

  test("checkpoint recovery: restarted query resumes exactly-once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val in = MemoryStream[(Timestamp, Long)]

    def start() = in.toDF().toDF("ts", "v")
      .writeStream.format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .outputMode("append").start()

    val q1 = start()
    try {
      in.addData((ts(1), 1L), (ts(2), 2L))
      q1.processAllAvailable()
    } finally q1.stop()

    // restart from the same checkpoint; earlier offsets must not replay
    val q2 = start()
    try {
      in.addData((ts(3), 3L))
      q2.processAllAvailable()
    } finally q2.stop()

    val back = spark.read.parquet(s"$tmp/out")
    assert(back.count() == 3) // no loss, no duplication across restart
    assert(back.agg(sum(col("v"))).head().getLong(0) == 6L)
  }

  test("RefiringWindow: +I on close, +U re-fire on late rows, L beyond lateness") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, Double)] // key, tsMs, id, value
    val ev = in.toDF().toDF("key", "tsMs", "id", "value")
      .withColumn("ts", timestamp_millis(col("tsMs")))
      .withWatermark("ts", "0 seconds")
      .select(col("key"), col("tsMs"), col("id"), col("value"))
      .as[RefiringWindow.RwEvent]
    // 10-minute windows, 10 minutes allowed lateness
    val q = RefiringWindow(ev, winMs = 600000L, allowedMs = 600000L).toDF()
      .writeStream.format("memory").queryName("refire_spec")
      .outputMode("append").start()
    def ms(minute: Int): Long = minute * 60000L
    def rows() = spark.table("refire_spec")
      .collect().map(r => (r.getLong(1), r.getString(2), r.getLong(3),
        r.getDouble(4))).toSeq
    try {
      in.addData((1L, ms(1), 1L, 1.0), (1L, ms(5), 2L, 2.0))
      q.processAllAvailable()
      assert(rows().isEmpty) // window [0,10) still open
      in.addData((1L, ms(12), 3L, 4.0))
      q.processAllAvailable()
      // wm=12min → [0,10) fires +I with 2 rows
      assert(rows().contains((0L, "+I", 2L, 3.0)))
      in.addData((1L, ms(3), 4L, 8.0)) // late, within 10min allowance
      q.processAllAvailable()
      assert(rows().contains((0L, "+U", 3L, 11.0))) // re-fired, updated
      in.addData((1L, ms(31), 5L, 0.5)) // wm → 31min: [0,10) past GC
      q.processAllAvailable()
      in.addData((1L, ms(2), 6L, 16.0)) // beyond allowed lateness
      q.processAllAvailable()
      assert(rows().contains((0L, "L", 1L, 16.0))) // side output, not lost
      assert(!rows().exists(r => r._2 == "+U" && r._3 == 4L),
        "no re-fire after GC")
    } finally q.stop()
  }

  test("streaming dedup keeps one row per key across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("user_id", "event_type")
      .dropDuplicates("user_id", "event_type")
      .writeStream.format("memory").queryName("dedup_spec")
      .outputMode("append").start()
    try {
      in.addData((1L, "x"), (1L, "x"), (2L, "y"))
      q.processAllAvailable()
      in.addData((1L, "x"), (2L, "z"))
      q.processAllAvailable()
      val rows = spark.table("dedup_spec").orderBy("user_id", "event_type")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(rows == Seq((1L, "x"), (2L, "y"), (2L, "z")))
    } finally q.stop()
  }
}
