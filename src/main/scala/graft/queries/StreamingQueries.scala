package graft.queries

import graft.QueryDef
import graft.streaming.{StreamRunner, TopNEvent, WindowedTopN}
import org.apache.spark.sql.functions._

/** Structured Streaming operator surface, oracle-checked end-to-end:
  * each query RUNS as a real streaming job (file source → watermark →
  * stateful operator → memory sink, driven to completion by
  * [[graft.streaming.StreamRunner]]) and the DuckDB twin reproduces the
  * final sink contents analytically — including the watermark cutoff
  * (windows/sessions/timers closed only once the watermark, which ends
  * at max(ts) - delay, passes them).
  *
  * Reference coverage (SURVEY.md §2.5/§2.6/§2.4/§2.10):
  *  - q40: tumbling group-window aggregate, emit-on-watermark
  *    (StreamExecGroupWindowAggregate / RT WindowOperator)
  *  - q41: session windows with gap merge (EventTimeSessionWindows)
  *  - q42: streaming deduplicate keep-first (RT/deduplicate)
  *  - q43: interval (time-bounded stream-stream) join
  *    (StreamExecIntervalJoin / IntervalJoinOperator)
  *  - q44: streaming windowed Top-N on transformWithState with
  *    event-time timers (StreamExecRank / AppendOnlyTopNFunction)
  */
object StreamingQueries {

  private val Wm = "1 hour"   // watermark delay on events.ts
  private val WmSql = "INTERVAL 1 HOUR"
  // final watermark of the bounded run, as a DuckDB scalar subquery
  private val WmCut = s"(SELECT max(ts) - $WmSql FROM events)"

  // ------------------------------------------------------------------
  // q40 tumbling window aggregate (append mode, watermark-closed only)
  // ------------------------------------------------------------------

  val q40StreamTumble: QueryDef = QueryDef(
    "q40_stream_tumble",
    (s, dir) => {
      val ev = StreamRunner.eventsStream(s, dir).withWatermark("ts", Wm)
      val agg = ev
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast(QueryDef.Money)).cast("double").as("sum_value"))
        .select(
          unix_timestamp(col("window.start")).as("day_start"),
          col("event_type"), col("n"), col("sum_value"))
      StreamRunner.runToTable(agg, "append")
        .orderBy(col("day_start"), col("event_type"))
    },
    Some(s"""
      SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_start,
             event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM events
      WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= $WmCut
      GROUP BY 1, 2
      ORDER BY day_start, event_type
    """))

  // ------------------------------------------------------------------
  // q41 session windows (30 min gap) per user
  // ------------------------------------------------------------------

  val q41StreamSession: QueryDef = QueryDef(
    "q41_stream_session",
    (s, dir) => {
      val ev = StreamRunner.eventsStream(s, dir).withWatermark("ts", Wm)
      val agg = ev
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          col("user_id"),
          unix_micros(col("session_window.start")).as("sess_start_us"),
          col("n_events"))
      StreamRunner.runToTable(agg, "append")
        .orderBy(col("user_id"), col("sess_start_us"))
    },
    Some(s"""
      WITH o AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      ),
      i AS (
        SELECT user_id, ts,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM o
      ),
      sess AS (
        SELECT user_id, min(ts) AS st, max(ts) AS en, COUNT(*) AS n_events
        FROM i GROUP BY user_id, sid
      )
      SELECT user_id, CAST(epoch_us(st) AS BIGINT) AS sess_start_us, n_events
      FROM sess
      WHERE en + INTERVAL 30 MINUTE <= $WmCut
      ORDER BY user_id, sess_start_us
    """))

  // ------------------------------------------------------------------
  // q42 streaming deduplicate keep-first (key columns only → the kept
  // arrival is irrelevant, making the bounded run deterministic)
  // ------------------------------------------------------------------

  val q42StreamDedup: QueryDef = QueryDef(
    "q42_stream_dedup",
    (s, dir) => {
      val ev = StreamRunner.eventsStream(s, dir)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
      StreamRunner.runToTable(ev, "append")
        .orderBy(col("user_id"), col("event_type"))
    },
    Some("""
      SELECT DISTINCT user_id, event_type
      FROM events
      ORDER BY user_id, event_type
    """))

  // ------------------------------------------------------------------
  // q43 interval join: errors within 10 minutes before each click,
  // same user (inner stream-stream join emits every match; watermarks
  // only bound state retention)
  // ------------------------------------------------------------------

  val q43StreamIntervalJoin: QueryDef = QueryDef(
    "q43_stream_interval_join",
    (s, dir) => {
      val clicks = StreamRunner.eventsStream(s, dir)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", Wm)
      val errors = StreamRunner.eventsStream(s, dir)
        .filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id").as("err_user"),
          col("ts").as("err_ts"))
        .withWatermark("err_ts", Wm)
      val joined = clicks.join(errors,
          expr("""user_id = err_user AND
                  err_ts BETWEEN click_ts - INTERVAL 10 MINUTES AND click_ts"""))
        .select(col("click_id"), col("err_id"), col("user_id"))
      StreamRunner.runToTable(joined, "append")
        .orderBy(col("click_id"), col("err_id"))
    },
    Some("""
      SELECT c.event_id AS click_id, e.event_id AS err_id, c.user_id
      FROM events c JOIN events e
        ON c.user_id = e.user_id
       AND c.event_type = 'click' AND e.event_type = 'error'
       AND e.ts BETWEEN c.ts - INTERVAL 10 MINUTE AND c.ts
      ORDER BY click_id, err_id
    """))

  // ------------------------------------------------------------------
  // q44 streaming windowed Top-3 via transformWithState + timers
  // ------------------------------------------------------------------

  val q44StreamTopN: QueryDef = QueryDef(
    "q44_stream_topn",
    (s, dir) => {
      import s.implicits._
      val ev = StreamRunner.eventsStream(s, dir)
        .select(
          col("event_type").as("grp"),
          unix_timestamp(date_trunc("day", col("ts"))).as("winStartSec"),
          (unix_timestamp(date_trunc("day", col("ts"))) * 1000 + 86400000L)
            .as("winEndMs"),
          col("event_id").as("id"), col("value"), col("ts"))
        .withWatermark("ts", Wm)
        .as[TopNEvent]
      val out = WindowedTopN(ev, n = 3).toDF()
        .select(col("grp").as("event_type"), col("winStartSec").as("day_start"),
          col("rnk").cast("int").as("rnk"), col("id").as("event_id"),
          col("value"))
      StreamRunner.runToTable(out, "append")
        .orderBy(col("event_type"), col("day_start"), col("rnk"))
    },
    Some(s"""
      WITH r AS (
        SELECT event_type, date_trunc('day', ts) AS d, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                  ORDER BY value DESC, event_id) AS rnk
        FROM events
      )
      SELECT event_type, CAST(epoch(d) AS BIGINT) AS day_start,
             CAST(rnk AS INT) AS rnk, event_id, value
      FROM r
      WHERE rnk <= 3 AND d + INTERVAL 1 DAY <= $WmCut
      ORDER BY event_type, day_start, rnk
    """))

  val all: Seq[QueryDef] = Seq(
    q40StreamTumble, q41StreamSession, q42StreamDedup,
    q43StreamIntervalJoin, q44StreamTopN)
}
