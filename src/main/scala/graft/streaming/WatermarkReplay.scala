package graft.streaming

import scala.reflect.ClassTag

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.{encoderFor, AgnosticEncoders, ExpressionEncoder}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, ValueState}

/** Shared machinery of the event-time replay processors (Cep,
  * StreamingOver, StreamingOverRange, CountWindow, TwinStateJoin, …):
  * a key's pending rows wait in ONE ValueState value until the
  * watermark passes them, then [[replay]] processes them in one sweep
  * per fire.
  *
  * Timer discipline — ONE timer per batch at the min incoming event
  * time, re-armed at the min PENDING time after each fire. Per-row
  * timers would make each fire re-read the whole buffer once per
  * distinct timestamp (quadratic in buffered rows); the re-arm keeps
  * the invariant that whenever pending rows exist, an armed timer
  * ≤ min(pending) exists, so no row ever strands. A stale fire (ready
  * empty) can only follow a same-batch fire that already re-armed.
  *
  * State access is per key, not per row: a batch reads the pending
  * value once and writes it once; a fire reads it once and writes back
  * (or clears) the rest once. Every fire already read and rewrote the
  * whole buffer, so the per-key cost stays O(pending rows).
  *
  * Buffered state is O(out-of-orderness window) per key; everything
  * else (frames, partials, window maps) belongs to the subclass.
  *
  * State compatibility: the buffer variable keeps the name `buf` it had
  * when it was a `ListState[I]` of single rows. A checkpoint written
  * with that shape does not restore into this one: Spark refuses the
  * restart with `STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE` instead of
  * starting with an empty buffer and silently dropping the rows that
  * were waiting for the watermark. Unlike the Kryo-encoded
  * [[Cep.Partial]] (whose variable name is versioned so a shape change
  * restarts clean and empty), losing buffered input is never a defined
  * restart, so the name is deliberately NOT bumped; such a query must
  * drain or restart from a fresh checkpoint. RecoverySpec pins the
  * refusal.
  */
trait WatermarkReplayProcessor[I, O] extends StatefulProcessor[Long, I, O] {

  /** Event time (ms) of an input row — the replay/timer clock. */
  protected def tsOf(e: I): Long

  /** Encoder for buffered input rows. */
  protected def inputEncoder: Encoder[I]

  /** Subclass state initialization (getHandle is live). */
  protected def initState(): Unit

  /** Processes the watermark-passed rows, UNSORTED — each subclass owns
    * its replay order (ts,id) / (ts,side,id) / peer grouping.
    */
  protected def replay(key: Long, ready: Seq[I], wm: Long): Iterator[O]

  /** When true, a timer fire with no ready rows still calls [[replay]]
    * (with an empty batch) so the subclass can run watermark-driven
    * sweeps — e.g. CEP's window-close flush, which arms its own timer
    * at the partial's within-window end, after the event buffer may
    * already have drained.
    */
  protected def replayOnEmptyTimer: Boolean = false

  /** Punctuated-watermark analog (reference: flink-core
    * `eventtime/WatermarkGenerator.java#onEvent` — a punctuated
    * generator emits the watermark from the event itself instead of on
    * the periodic clock). Returning `Some(w)` marks the row as a
    * punctuation asserting "no later row of this KEY carries ts <= w":
    * all buffered rows with ts <= w replay IMMEDIATELY in the same
    * micro-batch, without waiting for the global watermark to pass
    * them. The marker row itself stays ordinary data (buffered and
    * replayed like any other — Flink's generators also see the event
    * before emitting the watermark after it).
    *
    * Same contract Flink's punctuated generators carry: if the
    * assertion is false — a later micro-batch delivers a row at or
    * below an already-fired punctuation — that row is LATE. It is not
    * dropped here; it buffers and replays once the GLOBAL watermark
    * passes it, i.e. in a separate later sweep, out of order with the
    * rows the punctuation already released. Within one micro-batch the
    * release is safe regardless, because it runs after the whole
    * batch's rows are buffered.
    */
  protected def punctuationOf(e: I): Option[Long] = None

  @transient private var buf: ValueState[Seq[I]] = _

  final override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    val rowEnc = encoderFor(inputEncoder).encoder
    val pendingEnc = ExpressionEncoder(AgnosticEncoders.IterableEncoder(
      ClassTag[Seq[I]](classOf[Seq[_]]), rowEnc,
      containsNull = false, lenientSerialization = false))
    buf = getHandle.getValueState[Seq[I]]("buf", pendingEnc,
      org.apache.spark.sql.streaming.TTLConfig.NONE)
    initState()
  }

  private def pending(): Seq[I] = Option(buf.get()).getOrElse(Seq.empty)

  /** Stores the not-yet-ready rows (or clears the buffer) and re-arms
    * the one timer at their min time.
    */
  private def keep(rest: Seq[I]): Unit =
    if (rest.isEmpty) buf.clear()
    else {
      buf.update(rest)
      getHandle.registerTimer(rest.iterator.map(tsOf).min)
    }

  final override def handleInputRows(key: Long, rows: Iterator[I],
      timerValues: TimerValues): Iterator[O] = {
    // As a ListState appended row by row, the buffer cost ~5
    // state-store operations per EVENT (RocksDB merge, entry-count get
    // and put, row-count lookup): ~450,000 for one 100,000-event,
    // 1,500-key sf0.1 batch, against ~3,000 (one read and one write per
    // key) here. graft.Bench at sf1 (1M events, local[4], 4-core VM),
    // medians of 4 runs: q103 16.0 → 8.6 s, q87 37.0 → 34.0 s.
    val incoming = rows.toVector
    val all = pending() ++ incoming
    incoming.iterator.flatMap(punctuationOf).maxOption match {
      case None =>
        buf.update(all)
        if (incoming.nonEmpty)
          getHandle.registerTimer(incoming.iterator.map(tsOf).min)
        Iterator.empty
      case Some(punct) =>
        // punctuated release: drain the covered prefix NOW (the
        // punctuation is the watermark for these rows); pending rows
        // keep the one-timer invariant exactly like a timer fire
        val (ready, rest) = all.partition(tsOf(_) <= punct)
        keep(rest)
        if (ready.isEmpty && !replayOnEmptyTimer) Iterator.empty
        else replay(key, ready, punct)
    }
  }

  final override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[O] = {
    val wm = timerValues.getCurrentWatermarkInMs()
    val (ready, rest) = pending().partition(tsOf(_) <= wm)
    if (ready.isEmpty && !replayOnEmptyTimer) return Iterator.empty
    keep(rest)
    replay(key, ready, wm)
  }
}
