package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table registry over the driver-provided parquet star schema
  * (TESTDATA.md). Mirrors the reference's catalog bootstrap
  * (flink-table-api-java/…/catalog/GenericInMemoryCatalog.java — see
  * SURVEY.md §1.4) as plain Spark temp views: the declarative reads keep
  * filter/column pushdown and partition pruning available to Catalyst.
  */
object Tables {
  val relational: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val extras: Seq[String] = Seq("events", "documents", "embeddings")
  val all: Seq[String] = relational ++ extras

  /** Raw parquet read — single narrow scan, no driver-side work.
    * Also the engine's per-session bootstrap chokepoint: native function
    * registration (vec_dot, winnow_fp) happens here, so any session that reads a
    * table can resolve the engine's expressions.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    graft.functions.WinnowExpression.ensureRegistered(spark)
    graft.functions.TextExpressions.ensureRegistered(spark)
    if (name == "events") {
      // events.ts has shipped as TIMESTAMP(NANOS) (fixtures ≤ r8) and as
      // naive timestamp[us] → TIMESTAMP_NTZ (r9 regeneration); the legacy
      // long passthrough only matters for the nanos shape but is harmless
      // otherwise — set it lazily so driver-created sessions work too.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      requireUtcSession(spark)
      normalizeEventTime(spark.read.parquet(s"$dir/$name.parquet"))
    } else spark.read.parquet(s"$dir/$name.parquet")
  }

  /** The NTZ→Timestamp relabel below is instant-preserving ONLY under a
    * UTC session timezone; enforce it at the chokepoint instead of
    * trusting every session builder to have set it (ADVICE.md r9).
    * Instant-equivalent zone ids (Etc/UTC, GMT, +00:00, …) are accepted
    * as-is, and a genuinely non-UTC zone is overwritten LOUDLY — the
    * override mutates session-global timestamp parsing/rendering, so it
    * must never happen silently (ADVICE.md r10).
    */
  private[graft] def requireUtcSession(spark: SparkSession): Unit = {
    val tz = spark.conf.get("spark.sql.session.timeZone")
    val utcEquivalent =
      try {
        val rules = java.time.ZoneId.of(tz,
          java.time.ZoneId.SHORT_IDS).getRules
        rules.isFixedOffset &&
          rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0
      } catch { case _: java.time.DateTimeException => false }
    if (!utcEquivalent) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"graft.Tables: overriding session timezone '$tz' with UTC — " +
          "event-time normalization (TESTDATA TIMESTAMP_NTZ fixtures) is " +
          "instant-preserving only under UTC; all timestamp parsing and " +
          "rendering in this session is affected")
      spark.conf.set("spark.sql.session.timeZone", "UTC")
    }
  }

  /** Normalize events.ts to µs TimestampType at the scan boundary, batch
    * ([[load]]) or stream (`StreamRunner.eventsStream`), so
    * every downstream operator (windows, watermarks — which reject NTZ —
    * interval joins) sees a plain event-time column (SURVEY.md §1.2
    * ns-precision note). Handles every fixture shape seen so far:
    * timestamp[ns] (read as Long under nanosAsLong), naive timestamp[us]
    * (read as TIMESTAMP_NTZ), or native TimestampType. All sessions run
    * UTC, so the NTZ cast relabels the identical instant DuckDB sees.
    */
  private[graft] def normalizeEventTime(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case TimestampType => df
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case LongType => // read under spark.sql.legacy.parquet.nanosAsLong
        // `div` = exact integer division; `/` is double division whose
        // rounding truncates 1 µs low on ~1.6% of rows (ADVICE.md r01).
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df
    }
  }

  /** Register every table as a temp view named exactly as in the oracle
    * SQL, so Spark-side SQL and the DuckDB oracle share table names.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
