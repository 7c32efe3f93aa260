package graft.streaming

import graft.SparkTestSession
import graft.streaming.TemporalSort.SortEvent
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, StreamingQueryException, TimeMode, TimerValues, TTLConfig, ValueState}
import org.scalatest.funsuite.AnyFunSuite

/** Fixtures for the state-variable versioning test: two processors that
  * mimic a Kryo-encoded state class changing shape across an upgrade
  * (the CEP `Partial.gapped` situation) with the state variable name
  * bumped, as [[Cep.Partial]]'s scaladoc mandates. Each emits
  * (key, countAfterUpdate) so the test can see whether old state was
  * visible after the restart.
  */
object StateRenameFixtures {
  case class V1Shape(n: Int)
  case class V2Shape(n: Int, gapped: Boolean)

  class ProcV1 extends StatefulProcessor[Long, SortEvent, (Long, Long)] {
    @transient private var st: ValueState[Array[V1Shape]] = _
    override def init(om: OutputMode, tm: TimeMode): Unit =
      st = getHandle.getValueState[Array[V1Shape]]("partials",
        Encoders.kryo[Array[V1Shape]], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[SortEvent],
        tv: TimerValues): Iterator[(Long, Long)] = {
      val cur = Option(st.get()).getOrElse(Array.empty[V1Shape]) ++
        rows.map(_ => V1Shape(1))
      st.update(cur)
      Iterator.single((key, cur.length.toLong))
    }
  }

  class ProcV2 extends StatefulProcessor[Long, SortEvent, (Long, Long)] {
    @transient private var st: ValueState[Array[V2Shape]] = _
    override def init(om: OutputMode, tm: TimeMode): Unit =
      st = getHandle.getValueState[Array[V2Shape]]("partials_v2",
        Encoders.kryo[Array[V2Shape]], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[SortEvent],
        tv: TimerValues): Iterator[(Long, Long)] = {
      val cur = Option(st.get()).getOrElse(Array.empty[V2Shape]) ++
        rows.map(_ => V2Shape(1, gapped = false))
      st.update(cur)
      Iterator.single((key, cur.length.toLong))
    }
  }
}

/** The replay buffer's old shape: rows appended one by one to a
  * `ListState` named `buf`, drained by an event-time timer — what
  * [[WatermarkReplayProcessor]] kept before the buffer became one
  * `ValueState[Seq[_]]` under the same name.
  */
class ListBufferSort extends StatefulProcessor[Long, SortEvent,
    TemporalSort.SortedRow] {
  @transient private var buf: ListState[SortEvent] = _
  override def init(om: OutputMode, tm: TimeMode): Unit =
    buf = getHandle.getListState[SortEvent]("buf",
      Encoders.product[SortEvent], TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[SortEvent],
      tv: TimerValues): Iterator[TemporalSort.SortedRow] = {
    rows.foreach { e =>
      buf.appendValue(e)
      getHandle.registerTimer(e.tsMs)
    }
    Iterator.empty
  }
  override def handleExpiredTimer(key: Long, tv: TimerValues,
      info: ExpiredTimerInfo): Iterator[TemporalSort.SortedRow] = {
    val rows = buf.get().toList
    buf.clear()
    rows.iterator.map(e => TemporalSort.SortedRow(key, e.id, e.tsMs, 0L))
  }
}

/** Exactly-once across restarts (reference: checkpointed keyed state +
  * two-phase sinks): a transformWithState operator is stopped mid-input
  * and restarted from its checkpoint; recovered state must continue —
  * not restart — and the file sink's commit log must not duplicate.
  */
class RecoverySpec extends AnyFunSuite {
  import SparkTestSession._

  private def ev(key: Long, sec: Int, id: Long): SortEvent = {
    val ts = java.sql.Timestamp.valueOf(
      f"2024-01-01 00:${sec / 60}%02d:${sec % 60}%02d")
    SortEvent(key, ts.getTime, id, ts)
  }

  test("TemporalSort sequence state survives a checkpoint restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_recovery")
    val (ckpt, sink) = (s"$dir/ckpt", s"$dir/sink")

    val in = MemoryStream[SortEvent]
    def start() = TemporalSort(
        in.toDS().withWatermark("ts", "0 seconds").as[SortEvent]).toDF()
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt).option("path", sink)
      .outputMode("append").start()

    // phase 1: two rows for key 1, then a watermark-advancing row
    val q1 = start()
    try {
      in.addData(ev(1, 0, 10), ev(1, 10, 11))
      q1.processAllAvailable()
      in.addData(ev(9, 100, 90))
      q1.processAllAvailable()
    } finally q1.stop()

    // phase 2: restart from the checkpoint, two more rows for key 1
    val q2 = start()
    try {
      in.addData(ev(1, 200, 12), ev(1, 210, 13))
      q2.processAllAvailable()
      in.addData(ev(9, 300, 91))
      q2.processAllAvailable()
    } finally q2.stop()

    val rows = spark.read.parquet(sink)
      .filter($"key" === 1L).orderBy($"seq")
      .select($"id", $"seq").as[(Long, Long)].collect().toSeq
    // seq continues 1,2,3,4 across the restart — recovered ValueState,
    // no duplicated or re-emitted rows from the pre-restart batches
    assert(rows == Seq((10L, 1L), (11L, 2L), (12L, 3L), (13L, 4L)))
  }

  test("state-variable rename across a Kryo shape change restores cleanly") {
    // The Cep.Partial versioning convention under test: a Kryo-encoded
    // state class changed shape across an upgrade, and the state
    // variable NAME was bumped (partials → partials_v2). Restoring the
    // old checkpoint with the new processor must be a CLEAN, DEFINED
    // restart — the renamed variable starts empty, the query keeps its
    // offsets, and no opaque Kryo decode error surfaces (which is what
    // an unbumped name would produce).
    import SparkTestSession.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_rename")
    val (ckpt, sink) = (s"$dir/ckpt", s"$dir/sink")

    val in = MemoryStream[SortEvent]
    def start(v2: Boolean) = {
      val grouped = in.toDS().groupByKey(_.key)
      val out =
        if (v2) grouped.transformWithState(new StateRenameFixtures.ProcV2,
          TimeMode.None(), OutputMode.Append())
        else grouped.transformWithState(new StateRenameFixtures.ProcV1,
          TimeMode.None(), OutputMode.Append())
      out.toDF("key", "cnt")
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt).option("path", sink)
        .outputMode("append").start()
    }

    // phase 1 (v1 shape, name "partials"): two batches → counts 1, 2
    val q1 = start(v2 = false)
    try {
      in.addData(ev(1, 0, 10))
      q1.processAllAvailable()
      in.addData(ev(1, 10, 11))
      q1.processAllAvailable()
    } finally q1.stop()

    // phase 2 (v2 shape, name "partials_v2") from the same checkpoint:
    // must start, and must NOT see v1's count of 2
    val q2 = start(v2 = true)
    try {
      in.addData(ev(1, 20, 12))
      q2.processAllAvailable()
    } finally q2.stop()

    val counts = spark.read.parquet(sink)
      .select($"cnt").as[Long].collect().toSeq.sorted
    // v1 emitted 1 then 2; v2's fresh variable restarts at 1 — a count
    // of 3 would mean old-shape state leaked into the new variable
    assert(counts == Seq(1L, 1L, 2L), s"got $counts")
  }

  test("a checkpoint holding the old ListState buffer refuses to restore") {
    // Rows buffered by the old buffer shape must not vanish on restart:
    // the ValueState that replaced it keeps the variable name `buf`, so
    // Spark's state-schema check rejects the old checkpoint instead of
    // starting the replay buffer empty.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_buf_shape")
    val (ckpt, sink) = (s"$dir/ckpt", s"$dir/sink")

    val in = MemoryStream[SortEvent]
    def start(old: Boolean) = {
      val events = in.toDS().withWatermark("ts", "1 hour").as[SortEvent]
      val out =
        if (old) events.groupByKey(_.key).transformWithState(
          new ListBufferSort, TimeMode.EventTime(), OutputMode.Append())
        else TemporalSort(events)
      out.toDF().writeStream.format("parquet")
        .option("checkpointLocation", ckpt).option("path", sink)
        .outputMode("append").start()
    }

    // phase 1 (old shape): two rows stay buffered under the 1 h delay
    val q1 = start(old = true)
    try {
      in.addData(ev(1, 0, 10), ev(1, 10, 11))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(spark.read.parquet(sink).count() == 0)

    // phase 2: TemporalSort from the same checkpoint
    val q2 = start(old = false)
    try {
      in.addData(ev(1, 20, 12))
      val err = intercept[StreamingQueryException](q2.processAllAvailable())
      val msgs = Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toList
      assert(msgs.exists(_.contains("STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE")),
        s"got ${msgs.mkString(" <- ")}")
    } finally q2.stop()
  }
}
