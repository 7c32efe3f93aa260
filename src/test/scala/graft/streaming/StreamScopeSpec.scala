package graft.streaming

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import graft.{QueryDef, SparkTestSession}
import graft.operators.Parallelism
import graft.queries.{CepQueries, CoverageQueries3, OperatorQueries,
  StreamingQueries => Sq}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{GraftSessionBridge, ListenerBusDrain}
import org.apache.spark.sql.streaming.{StreamingQueryListener,
  StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite

/** `StreamRunner.runToTable` runs each query in a session of its own:
  * the state store and state partitions come from the plan, the
  * caller's conf is never written, and a query's result does not depend
  * on what ran before it or beside it.
  */
class StreamScopeSpec extends AnyFunSuite {
  import SparkTestSession._

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  private def callerConf(): Seq[Option[String]] = Seq(ProviderKey,
    "spark.sql.shuffle.partitions", "spark.sql.streaming.multipleWatermarkPolicy")
    .map(spark.conf.getOption)

  private def sessionPartitions: Long =
    spark.conf.get("spark.sql.shuffle.partitions").toLong

  /** `events` at sf0.001 under the 256 KB-per-store rule. */
  private val eventsPartitions: Long = {
    val bytes = new java.io.File(s"$sf/events.parquet").length
    math.min(math.max(1L, (bytes + (256L << 10) - 1) / (256L << 10)),
      spark.sparkContext.defaultParallelism.toLong)
  }

  /** The query's result as a sorted multiset of rendered rows. */
  private def rows(q: QueryDef, s: SparkSession = spark): Seq[String] =
    q.run(s, sf).collect().toSeq.map(_.toString).sorted

  /** State partitions of the streaming queries `body` runs, as a
    * listener on the caller's session sees them.
    */
  private def statePartitionsOf(body: => Unit): Set[Long] = {
    val seen = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = seen.add(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try { body; ListenerBusDrain.awaitEmpty(spark) }
    finally spark.streams.removeListener(listener)
    assert(!seen.isEmpty, "the caller's listener saw no progress")
    seen.asScala.flatMap(_.stateOperators.map(_.numShufflePartitions)).toSet
  }

  /** A stateful aggregation over a MemoryStream, through runToTable. */
  private def memoryStreamPartitions(): Set[Long] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    assert(eventsPartitions != sessionPartitions)
    val in = MemoryStream[Long]
    in.addData(1L to 20L: _*)
    statePartitionsOf(assert(StreamRunner.runToTable(
      in.toDF().groupBy(col("value") % 4).count(), "complete")
      .agg(sum("count")).as[Long].head() == 20L))
  }

  test("MATCH_RECOGNIZE runs on a session whose provider is the heap store") {
    // q78 is MatchRecognizeSql.run over `events`, choosing no store
    val heap = GraftSessionBridge.cloneSession(spark)
    heap.conf.set(ProviderKey,
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    val onHeap = rows(CepQueries.q78MatchRecognize, heap)
    assert(onHeap.nonEmpty)
    assert(onHeap == rows(CepQueries.q78MatchRecognize))
  }

  test("queries give the same results in two orders and leave the caller's conf") {
    val before = callerConf()
    // heap (q40, q42, q83) and RocksDB (q44, q95, q97) queries mixed
    def pass(qs: Seq[QueryDef]) = qs.map { q =>
      val out = rows(q)
      assert(callerConf() == before, s"${q.name} changed the caller's conf")
      q.name -> out
    }.toMap
    val order = new scala.util.Random(1).shuffle(Seq(Sq.q40StreamTumble,
      Sq.q42StreamDedup, Sq.q44StreamTopN, CoverageQueries3.q83DynamicSession,
      CepQueries.q95CepNotFollowedBy, OperatorQueries.q97CdcRetractPipeline))
    val first = pass(order)
    assert(first.size == 6)
    assert(pass(order.reverse) == first)
  }

  test("two streaming queries side by side give their solo results") {
    val (a, b) = (Sq.q40StreamTumble, Sq.q44StreamTopN)
    val solo = Map(a.name -> rows(a), b.name -> rows(b))
    val before = callerConf()
    val side = new ConcurrentLinkedQueue[(String, Seq[String])]()
    Parallelism.inParallel(() => side.add(a.name -> rows(a)),
      () => side.add(b.name -> rows(b)))
    assert(side.asScala.toMap == solo)
    assert(callerConf() == before)
  }

  test("state partitions come from the plan's file sources, the max over them") {
    assert(eventsPartitions != sessionPartitions)
    assert(statePartitionsOf(rows(Sq.q40StreamTumble)) == Set(eventsPartitions))
    // q43 streams `events` twice; a sum would double the count
    assert(statePartitionsOf(rows(Sq.q43StreamIntervalJoin)) == Set(eventsPartitions))
  }

  test("a plan with no file source keeps the session's partitions") {
    assert(memoryStreamPartitions() == Set(sessionPartitions))
    // also after a file stream was built but never run
    StreamRunner.tableStream(spark, sf, "events")
    assert(memoryStreamPartitions() == Set(sessionPartitions))
  }

  test("runs leave no streaming-listener bus behind and forward every run's events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val progressed = ConcurrentHashMap.newKeySet[java.util.UUID]()
    val terminated = ConcurrentHashMap.newKeySet[java.util.UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progressed.add(e.progress.runId)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        terminated.add(e.runId)
    }
    spark.streams.addListener(listener)
    try {
      val before = ListenerBusDrain.streamingBuses(spark)
      (1 to 5).foreach { i =>
        val in = MemoryStream[Long]
        in.addData(1L to 20L: _*)
        assert(StreamRunner.runToTable(
          in.toDF().groupBy(col("value") % 4).count(), "complete")
          .agg(sum("count")).as[Long].head() == 20L)
        // delivered before runToTable returned, with no wait here
        assert(terminated.size == i, s"run $i: terminated events")
        assert(progressed.asScala == terminated.asScala,
          s"run $i: each run's progress reached the caller's listener")
      }
      assert(ListenerBusDrain.streamingBuses(spark) == before,
        "each run must unregister its sessions' listener buses")
    } finally spark.streams.removeListener(listener)
  }
}
