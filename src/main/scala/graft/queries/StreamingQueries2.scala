package graft.queries

import graft.QueryDef
import graft.streaming.{StreamRunner, StreamingOver, UpsertSink}
import graft.streaming.StreamingOver.OverEvent
import org.apache.spark.sql.functions._

/** Second streaming batch: sliding (HOP) windows, the custom
  * event-time OVER operator, and changelog→table materialization via
  * the foreachBatch upsert sink (SURVEY.md §2.5 over-agg row, §2.5
  * group windows, §7 step 7).
  */
object StreamingQueries2 {

  private val Wm = "1 hour"
  private val WmCut = s"(SELECT max(ts) - INTERVAL 1 HOUR FROM events)"

  // ------------------------------------------------------------------
  // q63 sliding (HOP) window: 1-day windows every 12 hours
  // ------------------------------------------------------------------

  val q63StreamHop: QueryDef = QueryDef(
    "q63_stream_hop",
    (s, dir) => {
      StreamRunner.useHeapState(s)
      val ev = StreamRunner.eventsStream(s, dir).withWatermark("ts", Wm)
      val agg = ev
        .groupBy(window(col("ts"), "1 day", "12 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("n"))
      StreamRunner.runToTable(agg, "append")
        .orderBy(col("win_start"), col("event_type"))
    },
    Some(s"""
      -- every event belongs to exactly size/slide = 2 sliding windows:
      -- win_start = 12h-aligned floor of ts, minus 0 or 1 slide
      WITH slides AS (
        SELECT ts, event_type,
               CAST(floor(epoch(ts) / 43200) AS BIGINT) * 43200
                 - 43200 * off AS win_start
        FROM events, (SELECT unnest([0, 1]) AS off)
      )
      SELECT win_start, event_type, COUNT(*) AS n
      FROM slides
      WHERE win_start + 86400 <=
            (SELECT epoch(max(ts) - INTERVAL 1 HOUR) FROM events)
      GROUP BY 1, 2
      ORDER BY win_start, event_type
    """))

  // ------------------------------------------------------------------
  // q64 streaming event-time OVER: per-user running sum/count of
  // purchase values (unbounded preceding)
  // ------------------------------------------------------------------

  val q64StreamOver: QueryDef = QueryDef(
    "q64_stream_over",
    (s, dir) => {
      StreamRunner.requireRocksDb(s)
      import s.implicits._
      // Catalyst pushes the filter below EventTimeWatermark, so the
      // watermark tracks max *purchase* ts — the oracle cuts there too.
      val ev = StreamRunner.eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .withWatermark("ts", Wm)
        .select(col("user_id").as("key"),
          expr("unix_micros(ts) div 1000").as("tsMs"),
          col("event_id").as("id"), col("value"), col("ts"))
        .as[OverEvent]
      val out = StreamingOver(ev, precedingRows = Int.MaxValue).toDF()
        .select(col("key").as("user_id"), col("id").as("event_id"),
          col("frameSum").as("running_sum"), col("frameCnt").as("running_cnt"))
      StreamRunner.runToTable(out, "append")
        .orderBy(col("user_id"), col("event_id"))
    },
    Some(s"""
      -- order at ms precision + event_id, matching the processor's
      -- (tsMs, id) replay order (sub-ms ts collisions would otherwise
      -- diverge at larger scale factors)
      SELECT user_id, event_id,
             CAST(SUM(CAST(value AS DECIMAL(12,2)))
                  OVER (PARTITION BY user_id
                        ORDER BY epoch_us(ts) // 1000, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE) AS running_sum,
             COUNT(*) OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts) // 1000, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS running_cnt
      FROM events
      WHERE event_type = 'purchase'
        AND ts <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events
                   WHERE event_type = 'purchase')
      ORDER BY user_id, event_id
    """))

  // ------------------------------------------------------------------
  // q65 changelog → materialized table: signup inserts, purchase
  // upserts, error deletes; snapshot = surviving users + last value
  // ------------------------------------------------------------------

  val q65UpsertMaterialize: QueryDef = QueryDef(
    "q65_upsert_materialize",
    (s, dir) => {
      StreamRunner.useHeapState(s)
      val log = graft.operators.TmpWorkspaces
        .pidScoped("graft_upsert_log_q65_", dir).toString
      val changelog = StreamRunner.eventsStream(s, dir)
        .filter(col("event_type").isin("signup", "purchase", "error"))
        .select(
          when(col("event_type") === "signup", "+I")
            .when(col("event_type") === "purchase", "+U")
            .otherwise("-D").as("row_kind"),
          col("user_id"),
          col("value"),
          unix_micros(col("ts")).as("ts_us"))
      UpsertSink.materialize(changelog, log)
      UpsertSink.snapshot(s, log, keyCols = Seq("user_id"), orderCol = "ts_us")
        .select(col("user_id"), col("row_kind"), col("value"), col("ts_us"))
        .orderBy(col("user_id"))
    },
    Some("""
      SELECT user_id,
             CASE event_type WHEN 'signup' THEN '+I' WHEN 'purchase' THEN '+U'
                  ELSE '-D' END AS row_kind,
             value, CAST(epoch_us(ts) AS BIGINT) AS ts_us
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC) AS rn
            FROM events
            WHERE event_type IN ('signup', 'purchase', 'error'))
      WHERE rn = 1 AND event_type <> 'error'
      ORDER BY user_id
    """))

  // ------------------------------------------------------------------
  // q81 streaming event-time OVER with a TIME-RANGE frame: per-user
  // trailing-6-hour purchase sum/count (peers at equal ms share frames)
  // ------------------------------------------------------------------

  val q81StreamOverRange: QueryDef = QueryDef(
    "q81_stream_over_range",
    (s, dir) => {
      StreamRunner.requireRocksDb(s)
      import s.implicits._
      val ev = StreamRunner.eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .withWatermark("ts", Wm)
        .select(col("user_id").as("key"),
          expr("unix_micros(ts) div 1000").as("tsMs"),
          col("event_id").as("id"), col("value"), col("ts"))
        .as[OverEvent]
      val out = graft.streaming.StreamingOverRange(ev, rangeMs = 6L * 3600 * 1000)
        .toDF()
        .select(col("key").as("user_id"), col("id").as("event_id"),
          col("frameSum").as("range_sum"), col("frameCnt").as("range_cnt"))
      StreamRunner.runToTable(out, "append")
        .orderBy(col("user_id"), col("event_id"))
    },
    Some("""
      WITH p AS (
        SELECT user_id, event_id, value,
               CAST(floor(epoch_us(ts) / 1000) AS BIGINT) AS ms
        FROM events
        WHERE event_type = 'purchase'
          AND ts <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events
                     WHERE event_type = 'purchase'))
      SELECT user_id, event_id,
             CAST(SUM(CAST(value AS DECIMAL(12,2)))
                  OVER (PARTITION BY user_id ORDER BY ms
                        RANGE BETWEEN 21600000 PRECEDING AND CURRENT ROW)
                  AS DOUBLE) AS range_sum,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY ms
                            RANGE BETWEEN 21600000 PRECEDING AND CURRENT ROW)
               AS range_cnt
      FROM p
      ORDER BY user_id, event_id
    """))

  // ------------------------------------------------------------------
  // q82 unbounded twin-state stream-stream join: every signup paired
  // with every purchase of the same user, per-record emission, no
  // watermark bound on state (Flink regular-join semantics)
  // ------------------------------------------------------------------

  val q82TwinStateJoin: QueryDef = QueryDef(
    "q82_twin_state_join",
    (s, dir) => {
      StreamRunner.requireRocksDb(s)
      import s.implicits._
      import graft.streaming.TwinStateJoin.TsjEvent
      val ev = StreamRunner.eventsStream(s, dir)
        .filter(col("event_type").isin("signup", "purchase"))
        .withWatermark("ts", Wm)
        .select(col("user_id").as("key"),
          when(col("event_type") === "signup", 0).otherwise(1).as("side"),
          expr("unix_micros(ts) div 1000").as("tsMs"),
          col("event_id").as("id"), col("value"))
        .as[TsjEvent]
      val out = graft.streaming.TwinStateJoin(ev).toDF()
        .select(col("key").as("user_id"),
          col("leftId").as("signup_id"), col("rightId").as("purchase_id"),
          col("rightValue").cast(QueryDef.Money).cast("double")
            .as("purchase_value"))
      StreamRunner.runToTable(out, "append")
        .orderBy(col("user_id"), col("signup_id"), col("purchase_id"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_type, event_id, value
        FROM events
        WHERE event_type IN ('signup', 'purchase')
          AND ts <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events
                     WHERE event_type IN ('signup', 'purchase')))
      SELECT s.user_id, s.event_id AS signup_id, p.event_id AS purchase_id,
             CAST(CAST(p.value AS DECIMAL(12,2)) AS DOUBLE) AS purchase_value
      FROM e s
      JOIN e p ON p.user_id = s.user_id AND p.event_type = 'purchase'
      WHERE s.event_type = 'signup'
      ORDER BY s.user_id, signup_id, purchase_id
    """))

  // ------------------------------------------------------------------
  // q85 re-firing tumbling window through the driver gate: on the
  // in-order fixture every emission is a +I final fire (the +U/L paths
  // are spec-covered with injected late batches), so the changelog
  // equals the batch windowed aggregate with the watermark cutoff
  // ------------------------------------------------------------------

  val q85RefiringWindow: QueryDef = QueryDef(
    "q85_refiring_window",
    (s, dir) => {
      StreamRunner.requireRocksDb(s)
      import s.implicits._
      import graft.streaming.RefiringWindow.RwEvent
      val ev = StreamRunner.eventsStream(s, dir)
        .withWatermark("ts", Wm)
        .select(col("user_id").as("key"),
          expr("unix_micros(ts) div 1000").as("tsMs"),
          col("event_id").as("id"), col("value"))
        .as[RwEvent]
      val out = graft.streaming.RefiringWindow(ev,
        winMs = 86400000L, allowedMs = 3600000L).toDF()
        .select(col("key").as("user_id"), col("winStart").as("win_start"),
          col("rowKind").as("row_kind"), col("cnt"), col("sum"))
      StreamRunner.runToTable(out, "append")
        .orderBy(col("user_id"), col("win_start"), col("row_kind"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, epoch_us(ts) // 1000 AS ms, value FROM events),
      w AS (
        SELECT user_id, (ms // 86400000) * 86400000 AS win_start,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum
        FROM e GROUP BY 1, 2)
      SELECT user_id, win_start, '+I' AS row_kind, cnt, sum
      FROM w
      WHERE win_start + 86400000 <=
            (SELECT max(ms) - 3600000 FROM e)
      ORDER BY user_id, win_start, row_kind
    """))

  // ------------------------------------------------------------------
  // q86 streaming temporal sort-limit (StreamExecTemporalSort +
  // StreamExecSortLimit): per-key rowtime-ordered emission with a
  // stateful sequence stamp, stopped after the first 40 rows per key.
  // The seq column makes emission ORDER hash-checkable: it must equal
  // the rowtime rank DuckDB computes analytically.
  // ------------------------------------------------------------------

  val q86TemporalSortLimit: QueryDef = QueryDef(
    "q86_temporal_sort_limit",
    (s, dir) => {
      import s.implicits._
      StreamRunner.requireRocksDb(s)
      val ev = StreamRunner.eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .select(col("user_id").as("key"),
          expr("unix_micros(ts) div 1000").as("tsMs"),
          col("event_id").as("id"), col("ts"))
        .as[graft.streaming.TemporalSort.SortEvent]
      val out = graft.streaming.TemporalSort.sortLimit(ev, 40L).toDF()
        .select(col("key").as("user_id"), col("id").as("event_id"),
          col("tsMs").as("ms"), col("seq"))
      StreamRunner.runToTable(out, "append")
        .orderBy(col("user_id"), col("seq"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id,
               CAST(floor(epoch_us(ts) / 1000) AS BIGINT) AS ms
        FROM events
        WHERE ts <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)),
      r AS (
        SELECT user_id, event_id, ms,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ms, event_id) AS seq
        FROM e)
      SELECT user_id, event_id, ms, seq
      FROM r WHERE seq <= 40
      ORDER BY user_id, seq
    """))

  // ------------------------------------------------------------------
  // q87 retracting stream-stream join: changelog inputs (insert /
  // update / delete per record) emit per-record -U/+U/-D retraction
  // pairs against the other side's current state. The changelog is
  // synthesized from the events fixture — purchases insert, mod-4-1
  // ones update (+100) 30 min later, mod-4-2 ones delete 45 min later;
  // clicks are the append-only right side — and the emitted pair
  // stream is checked per row_kind via counts and id/cents sums the
  // DuckDB twin computes with inequality joins in the same
  // (ts, side, id) processing order.
  // ------------------------------------------------------------------

  val q87RetractingJoin: QueryDef = QueryDef(
    "q87_retracting_join",
    (s, dir) => {
      StreamRunner.requireRocksDb(s)
      import s.implicits._
      val raw = StreamRunner.eventsStream(s, dir)
        .filter(col("event_type").isin("purchase", "click"))
      val p = raw.filter(col("event_type") === "purchase")
      def part(side: Int, kind: String, src: org.apache.spark.sql.DataFrame,
          ts: org.apache.spark.sql.Column, value: org.apache.spark.sql.Column) =
        src.select(col("user_id").as("key"), lit(side).as("side"),
          lit(kind).as("kind"), ts.as("ts"), col("event_id").as("id"),
          value.as("value"))
      val synth = part(0, "I", p, col("ts"), col("value"))
        .union(part(0, "U", p.filter(col("event_id") % 4 === 1),
          col("ts") + expr("INTERVAL 30 MINUTES"), col("value") + 100))
        .union(part(0, "D", p.filter(col("event_id") % 4 === 2),
          col("ts") + expr("INTERVAL 45 MINUTES"), lit(0.0)))
        .union(part(1, "I", raw.filter(col("event_type") === "click"),
          col("ts"), col("value")))
        .withWatermark("ts", Wm)
        .select(col("key"), col("side"), col("kind"),
          expr("unix_micros(ts) div 1000").as("tsMs"), col("id"),
          col("value"))
        .as[graft.streaming.RetractingJoin.RjEvent]
      val table = StreamRunner.runToTable(
        graft.streaming.RetractingJoin(synth).toDF(), "append")
      table.groupBy(col("rowKind").as("row_kind"))
        .agg(count(lit(1)).as("n"),
          sum(col("leftId")).as("sum_left_id"),
          sum(col("rightId")).as("sum_right_id"),
          sum(expr("cast(round(leftValue * 100) as bigint)"))
            .as("sum_left_cents"),
          sum(expr("cast(round(rightValue * 100) as bigint)"))
            .as("sum_right_cents"))
        .orderBy(col("row_kind"))
    },
    Some("""
      WITH base AS (
        SELECT user_id AS key, event_type, event_id AS id,
               CAST(floor(epoch_us(ts) / 1000) AS BIGINT) AS ms, value
        FROM events WHERE event_type IN ('purchase', 'click')),
      synth AS (
        SELECT key, 0 AS side, 'I' AS kind, ms, id, value
        FROM base WHERE event_type = 'purchase'
        UNION ALL
        SELECT key, 0, 'U', ms + 1800000, id, value + 100
        FROM base WHERE event_type = 'purchase' AND id % 4 = 1
        UNION ALL
        SELECT key, 0, 'D', ms + 2700000, id, 0
        FROM base WHERE event_type = 'purchase' AND id % 4 = 2
        UNION ALL
        SELECT key, 1, 'I', ms, id, value
        FROM base WHERE event_type = 'click'),
      cut AS (
        SELECT * FROM synth
        WHERE ms <= (SELECT max(ms) - 3600000 FROM synth)),
      lrec AS (SELECT key, id, ms AS ins_ms, value AS v0
               FROM cut WHERE side = 0 AND kind = 'I'),
      lupd AS (SELECT key, id, ms AS upd_ms, value AS v1
               FROM cut WHERE side = 0 AND kind = 'U'),
      ldel AS (SELECT key, id, ms AS del_ms
               FROM cut WHERE side = 0 AND kind = 'D'),
      rins AS (SELECT key, id, ms AS r_ms, value AS rv
               FROM cut WHERE side = 1),
      pairs AS (
        -- +I at a left insert: right rows processed earlier (strict:
        -- a same-ms right row sorts after side 0)
        SELECT '+I' AS row_kind, l.id AS lid, r.id AS rid,
               l.v0 AS lv, r.rv AS rv
        FROM lrec l JOIN rins r ON r.key = l.key AND r.r_ms < l.ins_ms
        UNION ALL
        -- +I at a right insert: live left records at their current value
        SELECT '+I', l.id, r.id,
               CASE WHEN u.upd_ms IS NOT NULL AND u.upd_ms <= r.r_ms
                    THEN u.v1 ELSE l.v0 END,
               r.rv
        FROM rins r
        JOIN lrec l ON l.key = r.key AND l.ins_ms <= r.r_ms
        LEFT JOIN lupd u ON u.key = l.key AND u.id = l.id
        LEFT JOIN ldel d ON d.key = l.key AND d.id = l.id
        WHERE d.del_ms IS NULL OR d.del_ms > r.r_ms
        UNION ALL
        SELECT '-U', u.id, r.id, l.v0, r.rv
        FROM lupd u
        JOIN lrec l ON l.key = u.key AND l.id = u.id
        JOIN rins r ON r.key = u.key AND r.r_ms < u.upd_ms
        UNION ALL
        SELECT '+U', u.id, r.id, u.v1, r.rv
        FROM lupd u JOIN rins r ON r.key = u.key AND r.r_ms < u.upd_ms
        UNION ALL
        SELECT '-D', d.id, r.id, l.v0, r.rv
        FROM ldel d
        JOIN lrec l ON l.key = d.key AND l.id = d.id
        JOIN rins r ON r.key = d.key AND r.r_ms < d.del_ms)
      SELECT row_kind, COUNT(*) AS n,
             CAST(SUM(lid) AS BIGINT) AS sum_left_id,
             CAST(SUM(rid) AS BIGINT) AS sum_right_id,
             CAST(SUM(CAST(ROUND(lv * 100) AS BIGINT)) AS BIGINT)
               AS sum_left_cents,
             CAST(SUM(CAST(ROUND(rv * 100) AS BIGINT)) AS BIGINT)
               AS sum_right_cents
      FROM pairs GROUP BY row_kind ORDER BY row_kind
    """))

  // ------------------------------------------------------------------
  // q90 retractable group aggregate: a -U/+U/-D changelog (same
  // synthesis recipe as q87's left side, with -U carrying the old
  // value) drives per-key COUNT/SUM/MIN/MAX where min/max survive
  // retraction of the current extreme via the sorted multiset. The
  // query snapshots the last emission per key (max_by(seq) — the
  // UpsertSink pattern); the oracle aggregates the analytically-final
  // live set. A naive non-retractable max would keep deleted/updated
  // extremes and hash-mismatch.
  // ------------------------------------------------------------------

  val q90RetractableAgg: QueryDef = QueryDef(
    "q90_retractable_agg",
    (s, dir) => {
      StreamRunner.requireRocksDb(s)
      import s.implicits._
      val p = StreamRunner.eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
      def part(kind: String, src: org.apache.spark.sql.DataFrame,
          ts: org.apache.spark.sql.Column, value: org.apache.spark.sql.Column) =
        src.select(col("user_id").as("key"), lit(kind).as("rowKind"),
          ts.as("ts"), col("event_id").as("id"), value.as("value"))
      val upd = p.filter(col("event_id") % 4 === 1)
      val synth = part("+I", p, col("ts"), col("value"))
        .union(part("-U", upd, col("ts") + expr("INTERVAL 30 MINUTES"),
          col("value")))
        .union(part("+U", upd, col("ts") + expr("INTERVAL 30 MINUTES"),
          col("value") + 100))
        .union(part("-D", p.filter(col("event_id") % 4 === 2),
          col("ts") + expr("INTERVAL 45 MINUTES"), col("value")))
        .withWatermark("ts", Wm)
        .select(col("key"), col("rowKind"),
          expr("unix_micros(ts) div 1000").as("tsMs"), col("id"),
          col("value"))
        .as[graft.streaming.RetractableAgg.RaEvent]
      val table = StreamRunner.runToTable(
        graft.streaming.RetractableAgg(synth).toDF(), "append")
      table.groupBy(col("key").as("user_id"))
        .agg(max_by(
          struct(col("cnt"), col("sumCents"), col("minCents"),
            col("maxCents")), col("seq")).as("f"))
        .select(col("user_id"), col("f.cnt").as("cnt"),
          col("f.sumCents").as("sum_cents"),
          col("f.minCents").as("min_cents"),
          col("f.maxCents").as("max_cents"))
        .filter(col("cnt") > 0)
        .orderBy(col("user_id"))
    },
    Some("""
      WITH base AS (
        SELECT user_id, event_id AS id,
               CAST(floor(epoch_us(ts) / 1000) AS BIGINT) AS ms, value
        FROM events WHERE event_type = 'purchase'),
      synth_ms AS (
        SELECT ms FROM base
        UNION ALL SELECT ms + 1800000 FROM base WHERE id % 4 = 1
        UNION ALL SELECT ms + 2700000 FROM base WHERE id % 4 = 2),
      cutoff AS (SELECT MAX(ms) - 3600000 AS wm FROM synth_ms),
      live AS (
        SELECT b.user_id,
               CASE WHEN b.id % 4 = 1
                         AND b.ms + 1800000 <= (SELECT wm FROM cutoff)
                    THEN b.value + 100 ELSE b.value END AS v
        FROM base b
        WHERE b.ms <= (SELECT wm FROM cutoff)
          AND NOT (b.id % 4 = 2
                   AND b.ms + 2700000 <= (SELECT wm FROM cutoff)))
      SELECT user_id, COUNT(*) AS cnt,
             CAST(SUM(CAST(ROUND(v * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
             MIN(CAST(ROUND(v * 100) AS BIGINT)) AS min_cents,
             MAX(CAST(ROUND(v * 100) AS BIGINT)) AS max_cents
      FROM live GROUP BY user_id ORDER BY user_id
    """))

  // ------------------------------------------------------------------
  // q91 evicting window: per-user 1-day tumbling windows over purchases
  // where a CountEvictor keeps only the LAST 5 elements before the
  // aggregate runs — the evictor semantics Spark's native windows
  // cannot express. Oracle: rank-from-the-end per (user, day) in
  // DuckDB, aggregate ranks <= 5, fired windows only.
  // ------------------------------------------------------------------

  val q91EvictingWindow: QueryDef = QueryDef(
    "q91_evicting_window",
    (s, dir) => {
      StreamRunner.requireRocksDb(s)
      import s.implicits._
      val ev = StreamRunner.eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .withWatermark("ts", Wm)
        .select(col("user_id").as("key"),
          expr("unix_micros(ts) div 1000").as("tsMs"),
          col("event_id").as("id"), col("value"))
        .as[graft.streaming.EvictingWindow.EwEvent]
      val out = graft.streaming.EvictingWindow(ev, winMs = 86400000L,
        graft.streaming.EvictingWindow.Evictor.CountEvictor(5)).toDF()
        .select(col("key").as("user_id"), col("winStart").as("win_start"),
          col("cnt"), col("sum"))
      StreamRunner.runToTable(out, "append")
        .orderBy(col("user_id"), col("win_start"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id,
               CAST(floor(epoch_us(ts) / 1000) AS BIGINT) AS ms, value
        FROM events WHERE event_type = 'purchase'),
      ranked AS (
        SELECT user_id, (ms // 86400000) * 86400000 AS win_start, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ms // 86400000
                                  ORDER BY ms DESC, event_id DESC) AS rnk
        FROM e)
      SELECT user_id, win_start, COUNT(*) AS cnt,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100
               AS sum
      FROM ranked
      WHERE rnk <= 5
        AND win_start + 86400000 <= (SELECT MAX(ms) - 3600000 FROM e)
      GROUP BY user_id, win_start
      ORDER BY user_id, win_start
    """))

  // ------------------------------------------------------------------
  // q103 DeltaTrigger analog: global window per user, fires whenever a
  // row's value exceeds the last-fired seed by > 100 (the seed starts
  // at the key's first value and resets on each fire). Deterministic
  // event-order walk → recursive-CTE oracle stepping row by row.
  // ------------------------------------------------------------------

  val q103DeltaTrigger: QueryDef = QueryDef(
    "q103_delta_trigger",
    (s, dir) => {
      StreamRunner.requireRocksDb(s)
      import s.implicits._
      import graft.streaming.Triggers
      val ev = StreamRunner.eventsStream(s, dir)
        .withWatermark("ts", Wm)
        .select(col("user_id").as("key"),
          expr("unix_micros(ts) div 1000").as("tsMs"),
          col("event_id").as("id"), col("value"))
        .as[Triggers.TrEvent]
      val out = Triggers.deltaTrigger(ev, threshold = 100.0).toDF()
        .select(col("key").as("user_id"), col("id").as("fire_id"),
          col("n"), col("sumCents").as("sum_cents"))
      StreamRunner.runToTable(out, "append")
        .orderBy(col("user_id"), col("n"))
    },
    Some("""
      WITH RECURSIVE e AS (
        SELECT user_id, event_id, value,
               CAST(round(value * 100) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY
                 CAST(floor(epoch_us(ts) / 1000) AS BIGINT), event_id) AS rn
        FROM events
        WHERE ts <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)),
      walk AS (
        SELECT user_id, rn, value AS seed, event_id,
               FALSE AS fired, 1::BIGINT AS n, cents AS sum_cents
        FROM e WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.rn,
               CASE WHEN e.value - w.seed > 100 THEN e.value ELSE w.seed END,
               e.event_id, e.value - w.seed > 100,
               w.n + 1, w.sum_cents + e.cents
        FROM walk w
        JOIN e ON e.user_id = w.user_id AND e.rn = w.rn + 1)
      SELECT user_id, event_id AS fire_id, n, sum_cents
      FROM walk WHERE fired
      ORDER BY user_id, n
    """))

  // ------------------------------------------------------------------
  // q104 ContinuousEventTimeTrigger analog: daily tumbling window
  // firing every 6 event-time hours (boundary chain from the window's
  // first row, final fire on the window end). The fire at boundary b
  // aggregates exactly the window rows with ts <= b; boundaries fire
  // only once the watermark passes them.
  // ------------------------------------------------------------------

  val q104ContinuousTrigger: QueryDef = QueryDef(
    "q104_continuous_trigger",
    (s, dir) => {
      StreamRunner.requireRocksDb(s)
      import s.implicits._
      import graft.streaming.Triggers
      val ev = StreamRunner.eventsStream(s, dir)
        .withWatermark("ts", Wm)
        .select(col("user_id").as("key"),
          expr("unix_micros(ts) div 1000").as("tsMs"),
          col("event_id").as("id"), col("value"))
        .as[Triggers.TrEvent]
      val out = Triggers.continuousTrigger(ev,
        winMs = 86400000L, intervalMs = 21600000L).toDF()
        .select(col("key").as("user_id"), col("winStart").as("win_start"),
          col("fireMs").as("fire_ms"), col("n"),
          col("sumCents").as("sum_cents"))
      StreamRunner.runToTable(out, "append")
        .orderBy(col("user_id"), col("win_start"), col("fire_ms"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, CAST(floor(epoch_us(ts) / 1000) AS BIGINT) AS ms,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events),
      wmv AS (SELECT max(ms) - 3600000 AS w FROM e),
      win AS (
        SELECT user_id, (ms // 86400000) * 86400000 AS win_start,
               MIN(ms) AS first_ms
        FROM e, wmv WHERE ms <= wmv.w
        GROUP BY 1, 2),
      b AS (
        SELECT w.user_id, w.win_start, gs.fire_ms
        FROM win w, wmv, LATERAL (
          SELECT unnest(generate_series(
            (w.first_ms // 21600000) * 21600000 + 21600000,
            LEAST(w.win_start + 86400000, wmv.w),
            21600000)) AS fire_ms) gs)
      SELECT b.user_id, b.win_start, b.fire_ms,
             COUNT(e.ms) AS n, CAST(SUM(e.cents) AS BIGINT) AS sum_cents
      FROM b
      JOIN e ON e.user_id = b.user_id
            AND e.ms >= b.win_start AND e.ms < b.win_start + 86400000
            AND e.ms <= b.fire_ms
      GROUP BY 1, 2, 3
      ORDER BY b.user_id, b.win_start, b.fire_ms
    """))

  // ------------------------------------------------------------------
  // q105 DeltaEvictor: per-user daily windows over purchases where
  // elements far (>= 50) from the window's LAST element are evicted
  // before the aggregate. Oracle: last_value per (user, day) frame in
  // DuckDB, keep |value - lastv| < 50, fired windows only.
  // ------------------------------------------------------------------

  val q105DeltaEvictor: QueryDef = QueryDef(
    "q105_delta_evictor",
    (s, dir) => {
      StreamRunner.requireRocksDb(s)
      import s.implicits._
      val ev = StreamRunner.eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .withWatermark("ts", Wm)
        .select(col("user_id").as("key"),
          expr("unix_micros(ts) div 1000").as("tsMs"),
          col("event_id").as("id"), col("value"))
        .as[graft.streaming.EvictingWindow.EwEvent]
      val out = graft.streaming.EvictingWindow(ev, winMs = 86400000L,
        graft.streaming.EvictingWindow.Evictor.DeltaEvictor(50.0)).toDF()
        .select(col("key").as("user_id"), col("winStart").as("win_start"),
          col("cnt"), col("sum"))
      StreamRunner.runToTable(out, "append")
        .orderBy(col("user_id"), col("win_start"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id,
               CAST(floor(epoch_us(ts) / 1000) AS BIGINT) AS ms, value
        FROM events WHERE event_type = 'purchase'),
      w AS (
        SELECT user_id, (ms // 86400000) * 86400000 AS win_start, value,
               LAST_VALUE(value) OVER (
                 PARTITION BY user_id, ms // 86400000
                 ORDER BY ms, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                 AS lastv
        FROM e)
      SELECT user_id, win_start, COUNT(*) AS cnt,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100
               AS sum
      FROM w
      WHERE abs(value - lastv) < 50
        AND win_start + 86400000 <= (SELECT MAX(ms) - 3600000 FROM e)
      GROUP BY user_id, win_start
      ORDER BY user_id, win_start
    """))

  // ------------------------------------------------------------------
  // q106 PurgingTrigger(DeltaTrigger): like q103 but each fire purges
  // the window contents, so emissions carry only the rows since the
  // previous fire; the trigger's seed state survives the purge.
  // ------------------------------------------------------------------

  val q106PurgingDeltaTrigger: QueryDef = QueryDef(
    "q106_purging_delta_trigger",
    (s, dir) => {
      StreamRunner.requireRocksDb(s)
      import s.implicits._
      import graft.streaming.Triggers
      val ev = StreamRunner.eventsStream(s, dir)
        .withWatermark("ts", Wm)
        .select(col("user_id").as("key"),
          expr("unix_micros(ts) div 1000").as("tsMs"),
          col("event_id").as("id"), col("value"))
        .as[Triggers.TrEvent]
      val out = Triggers.deltaTrigger(ev, threshold = 100.0, purge = true)
        .toDF()
        .select(col("key").as("user_id"), col("id").as("fire_id"),
          col("n"), col("sumCents").as("sum_cents"))
      StreamRunner.runToTable(out, "append")
        .orderBy(col("user_id"), col("fire_id"))
    },
    Some("""
      WITH RECURSIVE e AS (
        SELECT user_id, event_id, value,
               CAST(round(value * 100) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY
                 CAST(floor(epoch_us(ts) / 1000) AS BIGINT), event_id) AS rn
        FROM events
        WHERE ts <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)),
      walk AS (
        SELECT user_id, rn, value AS seed, event_id,
               FALSE AS fired, 1::BIGINT AS n, cents AS sum_cents
        FROM e WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.rn,
               CASE WHEN e.value - w.seed > 100 THEN e.value ELSE w.seed END,
               e.event_id, e.value - w.seed > 100,
               CASE WHEN w.fired THEN 1::BIGINT ELSE w.n + 1 END,
               CASE WHEN w.fired THEN e.cents ELSE w.sum_cents + e.cents END
        FROM walk w
        JOIN e ON e.user_id = w.user_id AND e.rn = w.rn + 1)
      SELECT user_id, event_id AS fire_id, n, sum_cents
      FROM walk WHERE fired
      ORDER BY user_id, fire_id
    """))

  // ------------------------------------------------------------------
  // q121 punctuated watermark release (flink-core
  // WatermarkGenerator#onEvent — punctuated generators): marker events
  // (event_id % 50 = 0) carry the watermark in-band, releasing each
  // key's buffered rows up to the marker's timestamp immediately. The
  // watermark delay (2000 hours) exceeds the fixture's whole span, so
  // the GLOBAL watermark never passes any row — every emitted row was
  // released by a punctuation, which is exactly what the oracle
  // asserts: per key, the rows at or below the key's latest marker, in
  // rowtime order. The oracle is only engine-equivalent under
  // ONE-BATCH arrival (a marker firing in an earlier batch would
  // strand later-arriving sub-marker rows under the 2000h delay while
  // the batch oracle still counts them), so the runner PINS that
  // assumption: runToTableSingleBatch fails loudly if the source ever
  // splits the fixture across data-carrying micro-batches.
  // ------------------------------------------------------------------

  val q121PunctuatedSort: QueryDef = QueryDef(
    "q121_punctuated_sort",
    (s, dir) => {
      import s.implicits._
      StreamRunner.requireRocksDb(s)
      val ev = StreamRunner.eventsStream(s, dir)
        .withWatermark("ts", "2000 hours")
        .select(col("user_id").as("key"),
          expr("unix_micros(ts) div 1000").as("tsMs"),
          col("event_id").as("id"), col("ts"))
        .as[graft.streaming.TemporalSort.SortEvent]
      val out = graft.streaming.Punctuated.sort(ev, _.id % 50 == 0).toDF()
        .select(col("key").as("user_id"), col("id").as("event_id"),
          col("tsMs").as("ms"), col("seq"))
      StreamRunner.runToTableSingleBatch(out, "append")
        .orderBy(col("user_id"), col("seq"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id,
               CAST(floor(epoch_us(ts) / 1000) AS BIGINT) AS ms
        FROM events),
      m AS (
        SELECT user_id, MAX(ms) AS punct_ms
        FROM e WHERE event_id % 50 = 0 GROUP BY user_id),
      r AS (
        SELECT e.user_id, e.event_id, e.ms,
               ROW_NUMBER() OVER (PARTITION BY e.user_id
                                  ORDER BY e.ms, e.event_id) AS seq
        FROM e JOIN m ON m.user_id = e.user_id AND e.ms <= m.punct_ms)
      SELECT user_id, event_id, ms, seq
      FROM r ORDER BY user_id, seq
    """))

  val all: Seq[QueryDef] = Seq(
    q63StreamHop, q64StreamOver, q65UpsertMaterialize, q81StreamOverRange,
    q82TwinStateJoin, q85RefiringWindow, q86TemporalSortLimit,
    q87RetractingJoin, q90RetractableAgg, q91EvictingWindow,
    q103DeltaTrigger, q104ContinuousTrigger, q105DeltaEvictor,
    q106PurgingDeltaTrigger, q121PunctuatedSort)
}
