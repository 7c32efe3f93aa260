package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SCALE-ADAPTIVE shard count for the written index layouts
  * (optimization guide §6 "sensible output file sizing / partitioning
  * for anything you write").
  *
  * The problem: every written-index family here partitions its layout
  * by a fixed 256-value shard alphabet (2 hex chars of the key's hash,
  * `h mod 256`, band×top-bits). 256 directories is the right read-side
  * geometry at production volume — but it is a CONSTANT, and a
  * partitioned write's cost floor is per-FILE, not per-byte: at small
  * corpus sizes a generation write pays ~256 parquet creates + commit
  * renames for kilobytes of rows (measured 4.2 s vs 0.46 s for the
  * same rows into 16 directories), and every append and compact pays
  * it again. The guide's rule is to derive such constants from the
  * data, not the deployment.
  *
  * The fix: a fresh build picks the shard count from its input's
  * estimated bytes — `Wide` (256, today's geometry, unchanged at
  * production) at or above `spark.graft.index.shardSplitBytes`
  * (default 32 MB), `Narrow` (16) below — and PERSISTS the choice in
  * an underscore meta file (`<layoutDir>/_shards`, invisible to
  * parquet readers, the `_SUCCESS` convention) so appends, probes,
  * audits and compacts of that layout agree on the derivation forever.
  * Probes that find no meta file (a layout predating this file, or a
  * crashed build) skip partition pruning entirely — pruning is an
  * optimization, never a correctness dependency.
  *
  * Narrow hex shard values carry an `x` prefix (`x0`…`xf`) so a tiny
  * layout whose touched shards happen to be all-numeric can never flip
  * Spark's partition-column type inference from STRING to INT (the
  * wide 2-hex format is unchanged — it is oracle-pinned by the
  * read-amplification gates and 22 rounds of written layouts).
  */
object IndexShards {

  /** Production geometry — the historical 256-value alphabet. */
  val Wide = 256

  /** Small-layout geometry — 16 directories. */
  val Narrow = 16

  /** Shard count for a FRESH layout build, from the builder input's
    * Catalyst size estimate (exact-ish for scans and checkpoints;
    * object barriers inherit their child's estimate — pre-explode
    * input bytes, i.e. conservative toward `Wide` for the amplified
    * posting/band families). Unknown sizes count as big: a layout can
    * only be born `Narrow` on evidence.
    */
  def pick(input: DataFrame): Int = {
    val split = input.sparkSession.conf
      .get("spark.graft.index.shardSplitBytes", (32L << 20).toString).toLong
    val bytes =
      try input.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case scala.util.control.NonFatal(_) => BigInt(Long.MaxValue) }
    if (bytes >= split) Wide else Narrow
  }

  /** Persists the layout's shard count at `<layoutDir>/_shards` —
    * call AFTER the overwrite write (which deletes the directory).
    */
  def publish(spark: SparkSession, layoutDir: String, n: Int): Unit = {
    val p = new Path(s"$layoutDir/_shards")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(n.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The layout's persisted shard count, if any. */
  def read(spark: SparkSession, layoutDir: String): Option[Int] = {
    val p = new Path(s"$layoutDir/_shards")
    IndexPaths.readSmall(
        p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
      .flatMap(_.trim.toIntOption)
  }

  /** Shard count for APPENDING into an existing layout: the persisted
    * choice, or the historical `Wide` for layouts without one.
    */
  def forAppend(spark: SparkSession, layoutDir: String): Int =
    read(spark, layoutDir).getOrElse(Wide)

  /** Seeds a STAGED generation directory with the LIVE layout's shard
    * count, so a ledgered append staged in a private directory (the
    * [[graft.streaming.IndexIngest]] stage-and-rename commit) derives
    * shards exactly as the layout its files will be renamed into.
    * No-op when the live layout has no persisted count (the staged
    * append then uses the same `Wide` fallback the live layout's
    * readers do).
    */
  def mirror(spark: SparkSession, liveLayoutDir: String,
      stagedLayoutDir: String): Unit =
    read(spark, liveLayoutDir).foreach(publish(spark, stagedLayoutDir, _))

  /** The hex-key families' shard expression: first 2 hex chars at
    * `Wide` (the historical format, byte-for-byte), `x`-prefixed first
    * hex char at `Narrow` (16 values, type-inference-safe).
    */
  def hexShard(key: Column, n: Int): Column = n match {
    case Wide => substring(key, 1, 2)
    case Narrow => concat(lit("x"), substring(key, 1, 1))
    case other =>
      throw new IllegalArgumentException(
        s"hexShard supports Wide=$Wide and Narrow=$Narrow, got $other")
  }

  /** The integer-hash families' shard expression (`h mod n`). */
  def modShard(h: Column, n: Int): Column = pmod(h, lit(n)).cast("int")
}
