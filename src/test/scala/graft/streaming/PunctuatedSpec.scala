package graft.streaming

import java.sql.Timestamp

import graft.SparkTestSession
import graft.streaming.TemporalSort.SortEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Punctuated watermark generation (reference: flink-core
  * `eventtime/WatermarkGenerator.java#onEvent`): a marker event carries
  * the watermark in-band and releases buffered rows immediately —
  * without it, the same rows stay buffered because the periodic/global
  * watermark never reaches them.
  */
class PunctuatedSpec extends AnyFunSuite {
  import SparkTestSession._

  private def ev(sec: Int, id: Long): SortEvent = {
    val ts = Timestamp.valueOf(f"2024-01-01 00:${sec / 60}%02d:${sec % 60}%02d")
    SortEvent(1L, ts.getTime, id, ts)
  }

  /** Runs the punctuated sort (marker = negative id) over one batch
    * with a 1-hour watermark delay — far beyond the events' span, so
    * the GLOBAL watermark never passes any row and every emission must
    * come from a punctuation.
    */
  private def run(events: Seq[SortEvent]): Seq[(Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[SortEvent]
    val stream = in.toDS().withWatermark("ts", "1 hour").as[SortEvent]
    val name = s"punct_spec_${System.nanoTime()}"
    val q = Punctuated.sort(stream, _.id < 0).toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData(events: _*)
      q.processAllAvailable()
      spark.table(name).orderBy("seq")
        .select("id", "seq").as[(Long, Long)].collect().toSeq
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  // out-of-order arrival; rowtime order is 10, 11, 12
  private val data = Seq(ev(0, 10), ev(20, 12), ev(10, 11))

  test("without a marker the huge watermark delay strands every row") {
    assert(run(data).isEmpty)
  }

  test("a marker event releases covered rows immediately, in rowtime order") {
    // marker at 25 s covers all three rows; it is itself data too
    val out = run(data :+ ev(25, -1))
    assert(out == Seq((10L, 1L), (11L, 2L), (12L, 3L), (-1L, 4L)), s"got $out")
  }

  test("a marker releases only the rows at or below its timestamp") {
    // marker at 15 s covers ids 10 and 11 plus itself; id 12 (20 s)
    // stays buffered forever under the huge delay
    val out = run(data :+ ev(15, -1))
    assert(out == Seq((10L, 1L), (11L, 2L), (-1L, 3L)), s"got $out")
  }
}
