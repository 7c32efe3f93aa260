package graft.streaming

import graft.SparkTestSession
import graft.streaming.TemporalSort.SortEvent
import graft.streaming.RetractableAgg.{RaEvent, RaRow}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.timestamp_millis
import scala.reflect.runtime.universe.TypeTag
import org.scalatest.funsuite.AnyFunSuite

/** Batching must not change results: the watermark-replay operators
  * promise the same output whether events arrive in one micro-batch,
  * split across several, or shuffled within a batch (out-of-orderness
  * the watermark still covers). Multi-batch is where replay bugs hide —
  * state hand-off between fires, pending-row re-buffering, timer
  * re-arming — and the single-batch Verify path cannot catch them.
  */
class ReplayConsistencySpec extends AnyFunSuite {
  import SparkTestSession._

  private def ts(sec: Int) = java.sql.Timestamp.valueOf(
    f"2024-01-01 00:${sec / 60}%02d:${sec % 60}%02d")

  /** Runs `op` over `batches`, then over `flush` (key 999 at the end of
    * the hour, past every window and timer), into a memory sink;
    * `read` gets the sink without the flush key's rows.
    */
  private def runBatches[E <: Product : TypeTag, R](batches: Seq[Seq[E]],
      flush: E)(op: Dataset[E] => Dataset[_])(read: DataFrame => R): R = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[E]
    val name = s"rc_${System.nanoTime()}"
    val q = op(in.toDS()).toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      in.addData(flush)
      q.processAllAvailable()
      read(spark.table(name).filter($"key" =!= 999L))
    } finally q.stop()
  }

  /** `ds` under a 30 s watermark on its epoch-millisecond `tsMs`. */
  private def byTsMs[E <: Product : TypeTag](ds: Dataset[E]): Dataset[E] = {
    import spark.implicits._
    ds.withColumn("wm_ts", timestamp_millis($"tsMs"))
      .withWatermark("wm_ts", "30 seconds").drop("wm_ts").as[E]
  }

  private def runSort(batches: Seq[Seq[SortEvent]]): Seq[(Long, Long, Long)] = {
    import spark.implicits._
    runBatches(batches, SortEvent(999L, ts(3599).getTime, 0L, ts(3599)))(in =>
      TemporalSort(in.withWatermark("ts", "30 seconds").as[SortEvent]))(
      _.select($"key", $"id", $"seq").as[(Long, Long, Long)].collect().toSeq.sorted)
  }

  private def runAgg(batches: Seq[Seq[RaEvent]]): Seq[(Long, Long, Long)] = {
    import spark.implicits._
    runBatches(batches, RaEvent(999L, "+I", ts(3599).getTime, 0L, 0.0))(in =>
      RetractableAgg(byTsMs(in)))(
      // final state per key is the sequence-max row
      _.as[RaRow].collect().toSeq.groupBy(_.key).map { case (k, rows) =>
        val last = rows.maxBy(_.seq)
        (k, last.cnt, last.sumCents)
      }.toSeq.sorted)
  }

  private val sortEvents = (1 to 20).map { i =>
    SortEvent(i % 3, ts(i * 10).getTime, i.toLong, ts(i * 10))
  }

  test("temporal sort: one batch == three batches == shuffled batches") {
    val one = runSort(Seq(sortEvents))
    val three = runSort(sortEvents.grouped(7).toSeq)
    // shuffle within each batch: still within the 30s watermark delay
    val shuffled = runSort(sortEvents.grouped(7).map(_.reverse).toSeq)
    assert(one.nonEmpty && one == three && one == shuffled)
  }

  private val aggEvents = (1 to 20).flatMap { i =>
    val base = RaEvent(i % 3, "+I", ts(i * 10).getTime, i.toLong, i * 1.0)
    if (i % 4 == 0)
      Seq(base, RaEvent(i % 3, "-U", ts(i * 10 + 5).getTime, i.toLong, i * 1.0),
        RaEvent(i % 3, "+U", ts(i * 10 + 5).getTime, i.toLong, i + 100.0))
    else Seq(base)
  }

  test("retractable agg: one batch == three batches == shuffled batches") {
    val one = runAgg(Seq(aggEvents))
    val three = runAgg(aggEvents.grouped(9).toSeq)
    val shuffled = runAgg(aggEvents.grouped(9).map(_.reverse).toSeq)
    assert(one.nonEmpty && one == three && one == shuffled)
  }

  private def runEvict(batches: Seq[Seq[EvictingWindow.EwEvent]])
      : Seq[(Long, Long, Long, Double)] = {
    import spark.implicits._
    runBatches(batches, EvictingWindow.EwEvent(999L, ts(3599).getTime, 0L, 0.0))(
      in => EvictingWindow(byTsMs(in), 60000L, EvictingWindow.Evictor.CountEvictor(3)))(
      _.select($"key", $"winStart", $"cnt", $"sum")
        .as[(Long, Long, Long, Double)].collect().toSeq.sorted)
  }

  private val ewEvents = (1 to 24).map { i =>
    EvictingWindow.EwEvent(i % 2, ts(i * 10).getTime, i.toLong, i * 1.0)
  }

  test("evicting window: one batch == three batches == shuffled batches") {
    val one = runEvict(Seq(ewEvents))
    val three = runEvict(ewEvents.grouped(8).toSeq)
    val shuffled = runEvict(ewEvents.grouped(8).map(_.reverse).toSeq)
    assert(one.nonEmpty && one == three && one == shuffled)
  }

  private def runCep(pat: Cep.Pattern)(batches: Seq[Seq[Cep.CepEvent]])
      : Seq[Seq[Long]] = {
    import spark.implicits._
    runBatches(batches, Cep.CepEvent(999L, ts(3599).getTime, "flush", 0L, ts(3599)))(
      in => Cep(in.withWatermark("ts", "30 seconds").as[Cep.CepEvent], pat))(
      _.orderBy($"startTsMs")
        .collect().map(_.getAs[scala.collection.Seq[Long]]("ids").toSeq).toSeq)
  }

  private val runCepQuantifiers = runCep(Cep.Pattern(Seq(
    Cep.Step("a", _.tag == "A"),
    Cep.Step("b", _.tag == "B").oneOrMore,
    Cep.Step("c", _.tag == "C")), withinMs = 600000, skipPastLast = true)) _

  private val cepEvents = (1 to 24).map { i =>
    val tag = i % 6 match {
      case 1 => "A"; case 2 | 3 | 4 => "B"; case 5 => "C"; case _ => "X"
    }
    Cep.CepEvent(i % 2, ts(i * 10).getTime, tag, i.toLong, ts(i * 10))
  }

  test("cep quantifiers: one batch == three batches == shuffled batches") {
    val one = runCepQuantifiers(Seq(cepEvents))
    val three = runCepQuantifiers(cepEvents.grouped(8).toSeq)
    val shuffled = runCepQuantifiers(cepEvents.grouped(8).map(_.reverse).toSeq)
    assert(one.nonEmpty && one == three && one == shuffled)
  }

  // SKIP TO LAST pruning is applied inside one replay sweep (the
  // prune position is sweep-transient); splitting the stream so a
  // match emits in an earlier batch than the partials it must prune
  // exercises the persisted-state hand-off
  private val runCepSkipTo = runCep(Cep.Pattern(Seq(
    Cep.Step("s", _ => true, strict = true),
    Cep.Step("down", _ => true, strict = true, minTimes = 1,
      maxTimes = Int.MaxValue,
      ctxWhere = (e, m) => m.prev.exists(e.num < _.num)),
    Cep.Step("up", _ => true, strict = true, minTimes = 1,
      maxTimes = Int.MaxValue,
      ctxWhere = (e, m) => m.prev.exists(e.num > _.num))),
    withinMs = 600000, skipPastLast = false, skipToVar = "down",
    skipToFirst = false)) _

  private val zigzagEvents = (1 to 24).map { i =>
    Cep.CepEvent(i % 2, ts(i * 10).getTime, "V", i.toLong, ts(i * 10),
      num = ((i * 7) % 13).toDouble)
  }

  test("cep skip-to-last: one batch == three batches == shuffled batches") {
    val one = runCepSkipTo(Seq(zigzagEvents))
    val three = runCepSkipTo(zigzagEvents.grouped(8).toSeq)
    val shuffled = runCepSkipTo(zigzagEvents.grouped(8).map(_.reverse).toSeq)
    assert(one.nonEmpty && one == three && one == shuffled)
  }

  // the gapped flag is persisted Partial state: splitting the stream so
  // the gap-creating row lands in a DIFFERENT micro-batch than the
  // strict-entry attempt exercises the flag's round-trip through the
  // state store (a sweep-transient flag would wrongly re-admit the
  // strict transition after the batch boundary)
  private val runCepOptional = runCep(Cep.Pattern(Seq(
    Cep.Step("a", _.tag == "A", strict = true),
    Cep.Step("b", _.tag == "B").optional,
    Cep.Step("c", _.tag == "C", strict = true)),
    withinMs = 600000, skipPastLast = false)) _

  // gap-flag-sensitive shapes, one scenario per key so the relaxed
  // A→B edge cannot link events across scenarios
  private val optionalEvents = Seq(
    (1L, "A", 1), (1L, "C", 2), (1L, "C", 3), // (A,C@2); C@3 must NOT match
    (2L, "A", 4), (2L, "X", 5), (2L, "C", 6), // none: C gapped, B never seen
    (3L, "A", 7), (3L, "B", 8), (3L, "C", 9), // (A,B,C)
    (4L, "A", 10), (4L, "C", 11)              // (A,C@11)
  ).map { case (k, tag, i) =>
    Cep.CepEvent(k, ts(i * 10).getTime, tag, i.toLong, ts(i * 10))
  }

  test("cep optional + gap flag: one batch == per-event batches == split at gap") {
    val one = runCepOptional(Seq(optionalEvents))
    val each = runCepOptional(optionalEvents.map(Seq(_)))
    // split exactly between the gap-creating row (C@2) and the retry (C@3)
    val split = runCepOptional(Seq(optionalEvents.take(2), optionalEvents.drop(2)))
    assert(one == Seq(Seq(1L, 2L), Seq(7L, 8L, 9L), Seq(10L, 11L)), s"got $one")
    assert(each == one && split == one)
  }

  // The remaining replay processors through one harness: every event
  // type carries `key` and `tsMs`, and every output `key`; the check is
  // on the whole emitted multiset, so an emission that moves, doubles
  // or vanishes across a batch boundary fails it.
  private def runReplay[E <: Product : TypeTag](batches: Seq[Seq[E]],
      flush: E)(op: Dataset[E] => Dataset[_]): Seq[String] =
    runBatches(batches, flush)(in => op(byTsMs(in)))(
      _.collect().map(_.toString).toSeq.sorted)

  private def assertBatchingInvariant[E <: Product : TypeTag](events: Seq[E],
      perBatch: Int, flush: E)(op: Dataset[E] => Dataset[_]): Unit = {
    val one = runReplay(Seq(events), flush)(op)
    val three = runReplay(events.grouped(perBatch).toSeq, flush)(op)
    val shuffled = runReplay(events.grouped(perBatch).map(_.reverse).toSeq,
      flush)(op)
    assert(one.nonEmpty, "no output")
    assert(three == one, s"split batches differ: $three vs $one")
    assert(shuffled == one, s"shuffled batches differ: $shuffled vs $one")
  }

  // two rows per timestamp, so OVER RANGE peer groups span rows
  private val overEvents = (1 to 24).map { i =>
    val t = ts((i / 2) * 10)
    StreamingOver.OverEvent(i % 3, t.getTime, i.toLong, i * 1.5, t)
  }
  private val overFlush =
    StreamingOver.OverEvent(999L, ts(3599).getTime, 0L, 0.0, ts(3599))

  test("streaming over (rows): one batch == three batches == shuffled batches") {
    assertBatchingInvariant(overEvents, 8, overFlush)(StreamingOver(_, 2))
  }

  test("streaming over (range): one batch == three batches == shuffled batches") {
    assertBatchingInvariant(overEvents, 8, overFlush)(
      StreamingOverRange(_, 25000L))
  }

  test("count window: one batch == three batches == shuffled batches") {
    val events = (1 to 24).map { i =>
      CountWindow.CwEvent(i % 2, ts(i * 10).getTime, i.toLong, i * 1.25)
    }
    assertBatchingInvariant(events, 8,
      CountWindow.CwEvent(999L, ts(3599).getTime, 0L, 0.0))(CountWindow(_, 3))
  }

  private val trEvents = (1 to 24).map { i =>
    Triggers.TrEvent(i % 2, ts(i * 10).getTime, i.toLong, ((i * 7) % 13).toDouble)
  }
  private val trFlush = Triggers.TrEvent(999L, ts(3599).getTime, 0L, 0.0)

  test("delta trigger: one batch == three batches == shuffled batches") {
    assertBatchingInvariant(trEvents, 8, trFlush)(
      Triggers.deltaTrigger(_, 4.0, purge = true))
  }

  test("continuous trigger: one batch == three batches == shuffled batches") {
    assertBatchingInvariant(trEvents, 8, trFlush)(
      Triggers.continuousTrigger(_, 60000L, 20000L))
  }

  test("retracting join: one batch == three batches == shuffled batches") {
    // inserts on alternating sides, then updates and deletes of
    // earlier rows of the same key and side
    val events = (1 to 24).flatMap { i =>
      val (k, side) = (i % 2L, (i / 2) % 2)
      val ins = RetractingJoin.RjEvent(k, side, "I", ts(i * 10).getTime,
        i.toLong, i * 1.0)
      val upd =
        if (i % 5 == 0) Seq(ins.copy(kind = "U", tsMs = ts(i * 10 + 5).getTime,
          value = i + 100.0))
        else Nil
      val del =
        if (i % 7 == 0) Seq(ins.copy(kind = "D", tsMs = ts(i * 10 + 7).getTime))
        else Nil
      ins +: (upd ++ del)
    }
    assertBatchingInvariant(events, 9,
      RetractingJoin.RjEvent(999L, 0, "I", ts(3599).getTime, 0L, 0.0))(
      RetractingJoin(_))
  }

  test("twin-state join: one batch == three batches == shuffled batches") {
    val events = (1 to 24).map { i =>
      TwinStateJoin.TsjEvent(i % 2, (i / 2) % 2, ts(i * 10).getTime,
        i.toLong, i * 1.0)
    }
    assertBatchingInvariant(events, 8,
      TwinStateJoin.TsjEvent(999L, 0, ts(3599).getTime, 0L, 0.0))(
      TwinStateJoin(_))
  }
}
