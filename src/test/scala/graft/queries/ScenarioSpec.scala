package graft.queries

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
}
