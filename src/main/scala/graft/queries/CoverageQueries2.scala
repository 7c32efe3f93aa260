package graft.queries

import graft.{QueryDef, Tables}
import graft.streaming.{CountWindow, StreamRunner}
import graft.streaming.CountWindow.CwEvent
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Third coverage batch — the remaining SURVEY.md §2 rows:
  * count windows (§2.10), allowed-lateness / late-data side output
  * (§2.10, analytic twin), broadcast-state enrichment as stream-static
  * join (§2.10 broadcast state), CSV/JSON filesystem formats (§2.1
  * filesystem table source), range partitioning + per-partition sort
  * (§2.7 DataSet sortPartition / §2.12 partitionCustom), and streaming
  * union/connect (§2.8).
  */
object CoverageQueries2 {

  // ------------------------------------------------------------------
  // q69 count windows: every 5 purchases of a user form one window
  // ------------------------------------------------------------------

  val q69CountWindow: QueryDef = QueryDef(
    "q69_count_window",
    (s, dir) => {
      import s.implicits._
      val ev = StreamRunner.eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .withWatermark("ts", "1 hour")
        .select(col("user_id").as("key"),
          expr("unix_micros(ts) div 1000").as("tsMs"),
          col("event_id").as("id"), col("value"))
        .as[CwEvent]
      val out = CountWindow(ev, n = 5).toDF()
        .select(col("key").as("user_id"), col("winSeq").as("win_seq"),
          col("winSum").as("win_sum"))
      StreamRunner.runToTable(out, "append")
        .orderBy(col("user_id"), col("win_seq"))
    },
    Some("""
      WITH p AS (
        -- ms-precision ordering matches the processor's (tsMs, id) replay
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts) // 1000, event_id)
                 - 1 AS rn
        FROM events
        WHERE event_type = 'purchase'
          AND ts <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events
                     WHERE event_type = 'purchase'))
      SELECT user_id, CAST(rn // 5 AS BIGINT) AS win_seq,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS win_sum
      FROM p
      GROUP BY 1, 2
      HAVING COUNT(*) = 5
      ORDER BY user_id, win_seq
    """))

  // ------------------------------------------------------------------
  // q70 allowed lateness / late-data side output, analytic twin:
  // classify each event vs the per-user running watermark (jittered
  // event time so real inversions exist). The streaming per-record
  // operator is graft.streaming.LateSplit (spec-tested); this batch
  // twin makes the same policy oracle-checkable.
  // ------------------------------------------------------------------

  val q70LateSideOutput: QueryDef = QueryDef(
    "q70_late_side_output",
    (s, dir) => {
      // arrival order = event_id; jitter makes ~6/7 of rows out of order
      val adj = Tables.load(s, dir, "events")
        .withColumn("adj_us",
          expr("unix_micros(ts) - (event_id % 7) * 60000000"))
      val prevMax = Window.partitionBy(col("user_id"))
        .orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      adj
        .withColumn("wm_us", max(col("adj_us")).over(prevMax) - lit(60000000L))
        .withColumn("class",
          when(col("wm_us").isNull || col("adj_us") >= col("wm_us"), "ontime")
            .when(col("adj_us") >= col("wm_us") - lit(120000000L), "late")
            .otherwise("dropped"))
        .groupBy(col("event_type"), col("class"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("class"))
    },
    Some("""
      WITH a AS (
        SELECT event_type, user_id, event_id,
               epoch_us(ts) - (event_id % 7) * 60000000 AS adj_us
        FROM events),
      w AS (
        SELECT event_type, adj_us,
               MAX(adj_us) OVER (PARTITION BY user_id ORDER BY event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) - 60000000 AS wm_us
        FROM a)
      SELECT event_type,
             CASE WHEN wm_us IS NULL OR adj_us >= wm_us THEN 'ontime'
                  WHEN adj_us >= wm_us - 120000000 THEN 'late'
                  ELSE 'dropped' END AS class,
             COUNT(*) AS n
      FROM w
      GROUP BY 1, 2
      ORDER BY event_type, class
    """))

  // ------------------------------------------------------------------
  // q71 broadcast-state enrichment: streaming purchases joined to a
  // broadcast static dim (customer⋈nation), daily revenue per nation
  // ------------------------------------------------------------------

  val q71BroadcastEnrich: QueryDef = QueryDef(
    "q71_broadcast_enrich",
    (s, dir) => {
      val dim = broadcast(
        Tables.load(s, dir, "customer")
          .join(Tables.load(s, dir, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name")))
      val ev = StreamRunner.eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .withWatermark("ts", "1 hour")
        .join(dim, col("user_id") + 1 === col("c_custkey"))
      val agg = ev
        .groupBy(window(col("ts"), "1 day"), col("n_name"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(QueryDef.Money)).cast("double").as("revenue"))
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("n_name"), col("n"), col("revenue"))
      StreamRunner.runToTable(agg, "append")
        .orderBy(col("win_start"), col("n_name"))
    },
    Some("""
      WITH e AS (
        SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400 AS win_start,
               n_name, value
        FROM events
        JOIN customer ON user_id + 1 = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE event_type = 'purchase')
      SELECT win_start, n_name, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM e
      WHERE win_start + 86400 <=
            (SELECT epoch(max(ts) - INTERVAL 1 HOUR) FROM events
             WHERE event_type = 'purchase')
      GROUP BY 1, 2
      ORDER BY win_start, n_name
    """))

  // ------------------------------------------------------------------
  // q72 filesystem formats: lineitem→CSV and orders→JSON round-trips,
  // read back with declared schemas (1.11 formats take the declared
  // schema — no inference), joined and aggregated
  // ------------------------------------------------------------------

  val q72FormatRoundtrip: QueryDef = QueryDef(
    "q72_format_roundtrip",
    (s, dir) => {
      val tmp = graft.operators.TmpWorkspaces
        .pidScoped("graft_formats_q72_", dir).toString
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 2000)
        .select(col("l_orderkey"),
          col("l_quantity").cast("int").as("qty"),
          col("l_extendedprice").cast(QueryDef.Money).as("price"))
      li.write.mode("overwrite").option("header", "true")
        .csv(s"$tmp/lineitem_csv")
      val ord = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"), col("o_orderpriority"))
      ord.write.mode("overwrite").json(s"$tmp/orders_json")

      val liBack = s.read.schema(li.schema).option("header", "true")
        .csv(s"$tmp/lineitem_csv")
      val ordBack = s.read.schema(ord.schema).json(s"$tmp/orders_json")
      liBack.join(ordBack, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("qty")).as("sum_qty"),
          sum(col("price")).cast("double").as("sum_price"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS INT)) AS BIGINT) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
               AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_orderkey <= 2000
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority
    """))

  // ------------------------------------------------------------------
  // q73 range partitioning + per-partition sort (DataSet
  // partitionByRange + sortPartition): a distributed total sort whose
  // plan is RangePartitioning + local SortExec — no single-node shuffle
  // ------------------------------------------------------------------

  val q73RangeSort: QueryDef = QueryDef(
    "q73_range_sort",
    (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 500)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("int").as("qty"))
        .repartitionByRange(8, col("l_orderkey"), col("l_linenumber"))
        .sortWithinPartitions(col("l_orderkey"), col("l_linenumber")),
    Some("""
      SELECT l_orderkey, l_linenumber, CAST(l_quantity AS INT) AS qty
      FROM lineitem
      WHERE l_orderkey <= 500
      ORDER BY l_orderkey, l_linenumber
    """))

  // ------------------------------------------------------------------
  // q74 streaming union/connect: two filtered streams tagged and
  // unioned (DataStream.union / ConnectedStreams), hourly counts
  // ------------------------------------------------------------------

  val q74StreamUnion: QueryDef = QueryDef(
    "q74_stream_union",
    (s, dir) => {
      val src = StreamRunner.eventsStream(s, dir)
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("ts"), lit("rev").as("tag"))
      val acts = src.filter(col("event_type").isin("signup", "error"))
        .select(col("ts"), lit("act").as("tag"))
      // watermark AFTER the union: one generator over the merged stream
      val agg = purchases.union(acts)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("tag"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("tag"), col("n"))
      StreamRunner.runToTable(agg, "append")
        .orderBy(col("win_start"), col("tag"))
    },
    Some("""
      WITH e AS (
        SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS win_start,
               CASE WHEN event_type = 'purchase' THEN 'rev' ELSE 'act' END
                 AS tag
        FROM events
        WHERE event_type IN ('purchase', 'signup', 'error'))
      SELECT win_start, tag, COUNT(*) AS n
      FROM e
      WHERE win_start + 3600 <=
            (SELECT epoch(max(ts) - INTERVAL 1 HOUR) FROM events
             WHERE event_type IN ('purchase', 'signup', 'error'))
      GROUP BY 1, 2
      ORDER BY win_start, tag
    """))

  // ------------------------------------------------------------------
  // q99 DataGen bounded sequence source (DataGenTableSourceFactory):
  // parallel generation across 8 partitions with derived fields,
  // aggregated and checked against DuckDB's range() — pins that the
  // generator is deterministic and partition-count-independent. The
  // xxhash64 pseudo-random helpers stay spec-covered (DuckDB has no
  // twin hash).
  // ------------------------------------------------------------------

  val q99DataGen: QueryDef = QueryDef(
    "q99_datagen",
    (s, dir) =>
      graft.sources.DataGen.sequence(s, 10000L, 8,
          "bucket" -> "id % 7", "v" -> "(id * 37) % 1000")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        .orderBy(col("bucket")),
    Some("""
      SELECT range % 7 AS bucket, COUNT(*) AS n,
             CAST(SUM((range * 37) % 1000) AS BIGINT) AS sum_v,
             MIN(range) AS min_id, MAX(range) AS max_id
      FROM range(10000)
      GROUP BY 1 ORDER BY bucket
    """))

  val all: Seq[QueryDef] = Seq(
    q69CountWindow, q70LateSideOutput, q71BroadcastEnrich,
    q72FormatRoundtrip, q73RangeSort, q74StreamUnion, q99DataGen)
}
