package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{broadcast, col}
import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** Scale-adaptive parallelism repair for CPU-heavy per-document passes
  * (shingling, window fingerprints, per-char hashing, payload framing).
  *
  * The problem (optimization guide §2.5 "input skew" / §1.2 "the
  * distributed algorithm"): these passes amplify each input row by
  * 100–10,000× (explode per shingle/window/frame) and hash every
  * produced row, so their cost is proportional to OUTPUT rows — but
  * Spark sizes the scan stage by INPUT bytes. A small-file corpus (or a
  * filtered delta of one) arrives as a handful of scan partitions and
  * the whole corpus' hashing runs on one or two cores while the rest of
  * the cluster idles. At production scale the scan is already wide and
  * this is a no-op.
  *
  * The fix: hash-repartition the NARROW pre-explode rows (ids + text,
  * the cheapest the data ever is) up to the session's default
  * parallelism — deterministic key (never round-robin on computed rows:
  * retried tasks must reproduce the same assignment, SPARK-38388), and
  * only when the input is under-partitioned, so a well-partitioned
  * production scan never pays the extra exchange.
  */
object Parallelism {

  /** `df` hash-repartitioned on `byCol` up to `defaultParallelism`
    * partitions iff it currently has fewer; unchanged otherwise (and
    * unchanged for streaming frames, whose partitioning is the
    * micro-batch planner's). Purely physical — row content, and hence
    * every downstream result, is identical.
    */
  def fanOut(df: DataFrame, byCol: String): DataFrame = {
    if (df.isStreaming) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      val current =
        try df.rdd.getNumPartitions
        catch { case _: org.apache.spark.sql.AnalysisException => target }
      // size guard: an under-partitioned input is only worth an
      // exchange when its partitions carry real work (a streaming
      // member's few-hundred-row staged micro-batch fanned out to 32
      // partitions pays the exchange and 32 tiny tasks for nothing).
      // The callers amplify 10-1000x (explode per char/shingle/frame),
      // so the floor is low: 128 KB of COMPRESSED projected input per
      // partition ≈ ~0.5M chars ≈ seconds of single-core hashing — the
      // boundary where an exchange starts paying for itself (Catalyst
      // scales scan estimates by the projected-column ratio, so this is
      // deliberately below the raw file floor). Catalyst's sizeInBytes
      // is exact-ish for scans/checkpoints and huge for object
      // barriers — unknown counts as big, preserving the fan-out.
      val bytesPerPartition =
        try df.queryExecution.optimizedPlan.stats.sizeInBytes /
          math.max(current, 1)
        catch { case scala.util.control.NonFatal(_) => BigInt(Long.MaxValue) }
      if (current >= target || bytesPerPartition < (128L << 10)) df
      else df.repartition(target, col(byCol))
    }
  }

  /** The largest row count [[boundedBroadcast]] still hints: 2e6 keys
    * ≈ tens of MB hashed.
    */
  val BroadcastMaxKeys: Long = 2000000L

  /** `df` under an explicit broadcast hint iff its row count
    * `knownCount` (or a conservative upper bound) is at most
    * [[BroadcastMaxKeys]]; unchanged otherwise. For the
    * incremental-probe semi prunes (guide §3.1): the delta key set is
    * materialized and its count comes from the same job
    * ([[observed]]). A local checkpoint carries its origin's size
    * estimate, so the planner could pick a broadcast itself, but only
    * by Spark's BYTE threshold (10 MB), while graft's bound is a ROW
    * count: an explicit hint below it keeps the probe shuffle-free BY
    * CONSTRUCTION, whatever the key width, and above it (a delta so
    * large broadcasting would strain executors — the 100 TB posture)
    * the planner keeps its choice.
    */
  def boundedBroadcast(df: DataFrame, knownCount: Long): DataFrame =
    if (knownCount <= BroadcastMaxKeys) broadcast(df) else df

  /** `df` materialized (`localCheckpoint`) together with `aggs` over its
    * rows, which the same job computes through a Spark [[Observation]]:
    * a driver scalar read right after a checkpoint (a row count, a
    * shard set, a label sum) costs no aggregation job of its own.
    * Returns the checkpointed frame and the aggregates' row.
    */
  def observed(df: DataFrame, aggs: Column*): (DataFrame, Row) = {
    val obs = Observation()
    val done = df.observe(obs, aggs.head, aggs.tail: _*).localCheckpoint()
    (done, Await.result(obs.future, Duration.Inf))
  }

  /** Runs independent driver-side sections CONCURRENTLY and waits for
    * all of them (optimization guide §2.6 "overlap independent jobs":
    * Spark's scheduler happily runs several jobs at once inside one
    * application — actions are only sequential because driver code
    * calls them sequentially, and the FIFO default backfills the tail
    * of one job's stages with the next job's tasks). For the
    * serial-lifecycle operators here (multi-modality index builds,
    * multi-layout writes from one materialized frame, audit scans next
    * to compact rewrites) the steps are short jobs with real fixed
    * cost, so overlapping them converts a sum of floors into ~the max.
    *
    * Only for sections with NO data or ordering dependency — never two
    * writes into the SAME layout (append jobs to one directory share
    * the committer's `_temporary`). Failures propagate: the first
    * section's exception (unwrapped) aborts the caller after all
    * sections have settled, preserving `require` messages.
    */
  def inParallel(sections: (() => Unit)*): Unit =
    if (sections.sizeIs <= 1) sections.foreach(_.apply())
    else {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(sections.size)
      try {
        val futs = sections.map { s =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = s()
          })
        }
        var firstFailure: Option[Throwable] = None
        futs.foreach { f =>
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              if (firstFailure.isEmpty)
                firstFailure = Some(Option(e.getCause).getOrElse(e))
          }
        }
        firstFailure.foreach(throw _)
      } finally pool.shutdownNow()
    }
}
