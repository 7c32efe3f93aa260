package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TimeMode, ValueState}

/** Per-key COUNT windows (reference: `DataStream#countWindow` →
  * `DS/api/windowing/assigners/GlobalWindows` + `CountTrigger` +
  * count evictor, SURVEY.md §2.10 — no Spark-native equivalent): every
  * N rows of a key form one window; a window fires exactly when its Nth
  * row arrives, partial trailing windows never fire — Flink's tumbling
  * count-window semantics.
  *
  * Determinism over an out-of-order stream: same watermark-ordered
  * replay as [[StreamingOver]] — rows buffer in the key's pending-row
  * state under one event-time timer per batch; when the watermark
  * passes them they replay in
  * (ts, id) order through a per-key (windowSeq, count, sumCents)
  * accumulator. State is O(out-of-orderness) buffered rows plus one
  * accumulator per key. Money accumulates in exact long cents.
  */
object CountWindow {

  case class CwEvent(key: Long, tsMs: Long, id: Long, value: Double)

  /** One row per FULL window: its 0-based sequence per key and the
    * exact sum (emitted as double dollars, bit-reproducible).
    */
  case class CwOut(key: Long, winSeq: Long, winSum: Double)

  case class CwAcc(seq: Long, cnt: Long, sumCents: Long)

  class CountWindowProcessor(n: Int)
      extends WatermarkReplayProcessor[CwEvent, CwOut] {

    @transient private var acc: ValueState[CwAcc] = _

    override protected def initState(): Unit =
      acc = getHandle.getValueState[CwAcc]("acc",
        Encoders.product[CwAcc],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override protected def tsOf(e: CwEvent): Long = e.tsMs
    override protected def inputEncoder: org.apache.spark.sql.Encoder[CwEvent] =
      Encoders.product[CwEvent]

    override protected def replay(key: Long, ready: Seq[CwEvent],
        wm: Long): Iterator[CwOut] = {

      var st = Option(acc.get()).getOrElse(CwAcc(0L, 0L, 0L))
      val out = Seq.newBuilder[CwOut]
      ready.sortBy(e => (e.tsMs, e.id)).foreach { e =>
        val cents = math.round(e.value * 100.0)
        st = st.copy(cnt = st.cnt + 1, sumCents = st.sumCents + cents)
        if (st.cnt == n) {
          out += CwOut(key, st.seq, st.sumCents / 100.0)
          st = CwAcc(st.seq + 1, 0L, 0L)
        }
      }
      acc.update(st)
      out.result().iterator
    }
  }

  def apply(events: Dataset[CwEvent], n: Int): Dataset[CwOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .transformWithState(
        new CountWindowProcessor(n), TimeMode.EventTime(), OutputMode.Append())
  }
}
