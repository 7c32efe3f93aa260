package graft.streaming

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, TransformWithState}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
import org.apache.spark.sql.graftshim.GraftSessionBridge
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** Drives Structured Streaming pipelines over the driver-provided
  * bounded parquet fixtures, end-to-end: source → transforms → memory
  * sink, `processAllAvailable()`, return the sink table.
  *
  * This is how the streaming operator surface (reference:
  * flink-streaming-java DataStream + Blink StreamExec* nodes, SURVEY.md
  * §2.10) is made oracle-checkable: the streaming query runs for real —
  * micro-batches, watermarks, state store, no-data batches that advance
  * the watermark and flush windows/timers — and the final sink contents
  * are compared against a batch DuckDB twin that applies the same
  * watermark cutoff analytically.
  *
  * At 100 TB the same pipelines point at `readStream` directories /
  * Kafka and a durable sink; nothing here collects to the driver — the
  * memory sink only holds query RESULTS (window aggregates, top-ns),
  * never raw input.
  */
object StreamRunner {

  private val nameCounter = new AtomicInteger

  /** The state store a plan runs on: RocksDB (the reference's RocksDB
    * keyed-state backend, SURVEY.md §2.10) iff the plan holds a
    * `transformWithState` node, whose column families fail on the heap
    * store at the first batch with
    * `UNSUPPORTED_FEATURE.STATE_STORE_MULTIPLE_COLUMN_FAMILIES`. Native
    * windowed aggs, joins and dedup keep the heap store, the reference's
    * default: a RocksDB instance costs real startup time per (operator ×
    * partition), waste for a few counters per window.
    */
  private def providerFor(plan: LogicalPlan): String = {
    val store =
      if (plan.exists(_.isInstanceOf[TransformWithState])) "RocksDB" else "HDFSBacked"
    s"org.apache.spark.sql.execution.streaming.state.${store}StateStoreProvider"
  }

  /** Compressed source bytes per state partition ([[statePartitions]]). */
  private val BytesPerStatePartition: Long = 256L << 10

  /** DATA-SCALED state/shuffle partition count (make partitioning scale
    * with data, not with the machine). A stateful operator opens and
    * commits one state store per shuffle partition EVERY micro-batch,
    * so stores beyond what the state needs are a per-batch tax: the
    * r21 scaling block measured q115, q43 and q71 2-3x FASTER at 8
    * cores than at 32 with tiny state.
    *
    * Rule: ceil(source bytes / [[BytesPerStatePartition]], 256 KB of
    * compressed source) clamped to [1,
    * defaultParallelism]: never more stores than the session runs
    * without it (at production volume the data term exceeds any core
    * count), never more than the data justifies. 256 KB, not 32 MB,
    * because per-event work still needs parallelism: at 32 MB q97's
    * ~160k-event batch ran serial (11.6 s; 4.9 s at 11 partitions).
    *
    * The sources are the plan's file streams (a `StreamingRelation`
    * with a `path` option, narrowed by its `pathGlobFilter`), one fs
    * metadata call per matched path. Several sources take the MAXIMUM,
    * not the sum: q43 streams `events` twice and keeps the one-source
    * count. `None` without a file source (MemoryStream, rate): the
    * session value stays.
    */
  private def statePartitions(spark: SparkSession,
      plan: LogicalPlan): Option[Int] = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val sources = plan.collect {
      case r: StreamingRelation => CaseInsensitiveMap(r.dataSource.options)
    }.filter(_.contains("path"))
    sources.map { opts =>
      val dir = new Path(opts("path"))
      val fs = dir.getFileSystem(hadoopConf)
      val paths = opts.get("pathGlobFilter").fold(Seq(dir))(glob =>
        Option(fs.globStatus(new Path(dir, glob))).toSeq.flatten.map(_.getPath))
      val bytes = paths.map(fs.getContentSummary(_).getLength).sum
      val byData = math.ceil(bytes.toDouble / BytesPerStatePartition).toLong
      math.max(1L,
        math.min(byData, spark.sparkContext.defaultParallelism.toLong)).toInt
    }.maxOption
  }

  /** Any fixture table as a real file-source stream (the file stream
    * source only accepts directories: stream the fixture dir and select
    * the single file via pathGlobFilter).
    */
  def tableStream(spark: SparkSession, dir: String, table: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$table.parquet"
    val schema = spark.read.parquet(path).schema
    spark.readStream.schema(schema)
      .option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** The `events` fixture as a stream, through the batch loader's own
    * event-time normalization ([[graft.Tables.normalizeEventTime]]).
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.requireUtcSession(spark)
    graft.Tables.normalizeEventTime(tableStream(spark, dir, "events"))
  }

  /** Runs `stream` into a fresh memory sink until all available input is
    * processed (including trailing no-data micro-batches that advance
    * the watermark), then returns the accumulated sink contents.
    *
    * The query runs in its OWN session, a clone of the caller's (same
    * SparkContext; a copy of its conf, temp views, functions and
    * query-execution listeners). Only the clone gets the per-query
    * settings: the state store ([[providerFor]]) and, with file
    * sources, the state partitions ([[statePartitions]]). So the
    * caller's conf is never written or restored, and no query sees
    * settings of one that ran before or beside it
    * (`Parallelism.inParallel`). The clone does not copy streaming
    * listeners, so the caller's are forwarded onto it; once they have
    * seen the query's terminated event, the listener buses of the clone
    * and of the query's own session are unregistered ([[release]]), or
    * every run would leave two on the SparkContext. Partition count
    * cannot move a result: state is keyed, the sink collects every
    * partition, and oracle comparisons are order-insensitive.
    *
    * The result is materialized (localCheckpoint) and bound back to the
    * caller's session, so later batch work on it runs under the
    * caller's conf; the memory-sink view is dropped, or a long-lived
    * session (Verify, Bench) would keep every sink table in driver
    * memory. Results are small (aggregates / top-ns), never raw input.
    */
  def runToTable(stream: DataFrame, outputMode: String): DataFrame =
    runToTableImpl(stream, outputMode, maxDataBatches = None)

  /** [[runToTable]] + a loud pin on single-batch delivery: fails if the
    * file source split the fixture across more than one data-carrying
    * micro-batch. For queries whose ORACLE is only equivalent to the
    * engine under one-batch arrival (q121: rows below an
    * earlier-than-final punctuation would strand under the long
    * watermark delay if a marker fired in an earlier batch while the
    * batch oracle still counts them), a future fixture/source change
    * must surface HERE as an assertion, not as an oracle mismatch.
    */
  def runToTableSingleBatch(stream: DataFrame, outputMode: String): DataFrame =
    runToTableImpl(stream, outputMode, maxDataBatches = Some(1))

  private def runToTableImpl(stream: DataFrame, outputMode: String,
      maxDataBatches: Option[Int]): DataFrame = {
    val spark = stream.sparkSession
    val plan = stream.queryExecution.analyzed
    val scoped = GraftSessionBridge.cloneSession(spark)
    scoped.conf.set("spark.sql.streaming.stateStore.providerClass",
      providerFor(plan))
    statePartitions(spark, plan).foreach(n =>
      scoped.conf.set("spark.sql.shuffle.partitions", n.toString))
    spark.streams.listListeners().foreach(scoped.streams.addListener)
    // last, so it sees each event after the forwarded listeners did
    val sentinel = new Sentinel
    scoped.streams.addListener(sentinel)
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val query =
      try GraftSessionBridge.ofRows(scoped, plan).writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .start()
      catch { case e: Throwable =>
        GraftSessionBridge.dropListenerBus(spark, sentinel)
        throw e
      }
    try query.processAllAvailable()
    finally release(query, sentinel)
    maxDataBatches.foreach { max =>
      val dataBatches = this.dataBatches(query)
      require(dataBatches <= max,
        s"source delivered data in $dataBatches micro-batches; this " +
          s"query's oracle is only engine-equivalent up to $max (fixture " +
          "or source-trigger configuration changed?)")
    }
    val out = scoped.table(name).localCheckpoint(true)
    scoped.catalog.dropTempView(name)
    GraftSessionBridge.ofRows(spark, out.queryExecution.analyzed)
  }

  /** Marks the listener bus of the session it is added to, and sees
    * that session's query terminate. */
  private final class Sentinel extends StreamingQueryListener {
    val terminated = new CountDownLatch(1)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.countDown()
  }

  /** Stops `query` and unregisters the two streaming-listener buses its
    * run left on the SparkContext: each session's query manager adds
    * one for the session's lifetime, and neither the cloned session nor
    * the query's own session outlives the run. The clone's bus goes
    * only once `sentinel`, its last listener, has seen the terminated
    * event, so the forwarded listeners have seen it and every progress
    * event before it.
    */
  private def release(query: StreamingQuery, sentinel: Sentinel): Unit =
    try query.stop()
    finally {
      sentinel.terminated.await(60, TimeUnit.SECONDS)
      GraftSessionBridge.dropListenerBus(query.sparkSession, sentinel)
      val own = new Sentinel
      GraftSessionBridge.streamSession(query).streams.addListener(own)
      GraftSessionBridge.dropListenerBus(query.sparkSession, own)
    }

  /** Data-carrying micro-batches of a stopped `query`, from its
    * recentProgress. That is a RING BUFFER capped by
    * spark.sql.streaming.numRecentProgressUpdates (default 100): a run
    * emitting more updates than the cap silently drops the EARLIEST
    * entries, and a count over the survivors could pass a pin
    * vacuously, so a saturated buffer is refused instead of counted.
    */
  private[graft] def dataBatches(query: StreamingQuery): Int = {
    val progress = query.recentProgress
    val cap = query.sparkSession.conf
      .get("spark.sql.streaming.numRecentProgressUpdates", "100").toInt
    require(progress.length < cap,
      s"recentProgress holds ${progress.length} entries with ring-buffer " +
        s"cap $cap — early progress may have been dropped, so the " +
        "micro-batch count cannot be trusted; raise " +
        "spark.sql.streaming.numRecentProgressUpdates for this query")
    progress.count(_.numInputRows > 0)
  }

  /** Watermark-idleness analog (reference: `flink-core/…/eventtime/
    * WatermarksWithIdleness.java`, SURVEY.md §2.10 idleness row). Two
    * distinct stall shapes exist, and only one needs a knob here:
    *
    *  - An idle KEY cannot strand its buffered rows in the replay
    *    operators: buffering is keyed but the flush clock is the
    *    GLOBAL watermark, which other keys' traffic keeps advancing
    *    (proved by IdlenessSpec). Flink needs idleness marks for this
    *    because its watermark is the MIN over per-partition watermarks.
    *  - An idle SOURCE/branch in a multi-watermark query (union of
    *    independently watermarked streams) holds the combined
    *    watermark back under Spark's default `min` policy — exactly
    *    the stall WatermarksWithIdleness addresses. This knob opts the
    *    session into the `max` policy: the active branch drives the
    *    clock and the idle one no longer wedges the pipeline, at the
    *    same risk Flink's idleness marks carry (rows a late-waking
    *    branch sends below the advanced watermark count as late).
    */
  def allowIdleSources(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", "max")
}
