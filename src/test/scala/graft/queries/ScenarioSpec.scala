package graft.queries

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.{SparkTestSession, Tables}
import graft.operators.Dedup
import graft.streaming.IndexIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The stream mode's micro-batch pin: the oracle cannot see batch
  * boundaries, so only this check catches a landing that collapsed.
  */
class ScenarioSpec extends AnyFunSuite {
  import SparkTestSession._

  /** The exact-fingerprint lifecycle with its delta landed as `as`. */
  private def exactLandedAs(as: Scenario.Landing) =
    Scenario.Family("doc_id", new Scenario.Steps(_) {
      val source: DataFrame = Tables.load(r.s, r.dir, "documents")
      def build(): Unit =
        Dedup.exactWriteIndex(source.filter(r.base), r.index, "doc_id", "text")
      def probe(path: String, snap: DataFrame): DataFrame =
        Dedup.exactClustersIndexed(r.s, path, snap, "doc_id", "text")
      def order = Seq("fingerprint")
      override def landing = as
      override def batch = IndexIngest.exactBatch(r.index, "doc_id", "text")
    })

  private def run(landing: Scenario.Landing): DataFrame =
    Scenario("scenario_spec_stream", exactLandedAs(landing),
      Scenario.Split(5, 1), Scenario.Stream, None).run(spark, sf)

  test("a stream scenario whose delta lands in two files passes") {
    assert(run(Scenario.Chunks(col("doc_id") % 2 === 0, "doc_id", "text"))
      .count() > 0)
  }

  test("a stream scenario whose delta lands as one file fails the micro-batch check") {
    val e = intercept[IllegalArgumentException](
      run(Scenario.Chunks(lit(true), "doc_id", "text")))
    assert(e.getMessage.contains("carried data in 1 micro-batches, not 2"))
  }

  /** A family that lands its delta as `.bin` files and records, per
    * data-carrying micro-batch, the asset ids it delivered. */
  private def binFilesRecordedIn(batches: ConcurrentLinkedQueue[Set[Long]]) =
    Scenario.Family("doc_id", new Scenario.Steps(_) {
      val source: DataFrame = Tables.load(r.s, r.dir, "documents")
      def build(): Unit = ()
      def probe(path: String, snap: DataFrame): DataFrame =
        snap.select(col("doc_id"))
      def order = Seq("doc_id")
      override def landing = Scenario.BinFiles(source)
      override def batch = (df: DataFrame, _: Long) => {
        val ids = df.select(col("asset_id")).collect().map(_.getLong(0)).toSet
        if (ids.nonEmpty) batches.add(ids)
      }
    })

  test("a BinFiles landing delivers the smaller-id half of the delta first, run after run") {
    val split = Scenario.Split(4, 3)
    val delta = Tables.load(spark, sf, "documents")
      .filter(col("text").isNotNull && split.delta("doc_id"))
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val first = delta.take(delta.length / 2 + 1).toSet
    (1 to 3).foreach { run =>
      val batches = new ConcurrentLinkedQueue[Set[Long]]()
      Scenario("scenario_spec_bin", binFilesRecordedIn(batches), split,
        Scenario.Stream, None).run(spark, sf).count()
      val got = batches.asScala.toSeq
      assert(got.size == 2, s"run $run: ${got.size} data batches")
      assert(got.head == first, s"run $run: micro-batch 0 carried " +
        s"${got.head.toSeq.sorted}, not the first half ${first.toSeq.sorted}")
      assert(got(1) == delta.toSet -- first, s"run $run: micro-batch 1")
    }
  }
}
