package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // specs that start their own transformWithState queries need it;
      // StreamRunner.runToTable picks its provider from the plan
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // text-expression registration is unconditional here: languageId/
    // qualityColumns resolve count_in_set/sum_strlen on frames that
    // never pass through Tables.load (the vec_* family stays per-suite
    // opt-in — see the IndexIngestSpec ordering note)
    graft.functions.TextExpressions.ensureRegistered(s)
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

class TablesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("all tables load with nonzero rows") {
    Tables.all.foreach { n =>
      val df = Tables.load(spark, sf, n)
      assert(df.count() > 0, s"table $n is empty")
    }
  }

  test("events.ts normalizes to TimestampType") {
    import org.apache.spark.sql.types._
    val df = Tables.load(spark, sf, "events")
    assert(df.schema("ts").dataType == TimestampType)
  }
}
