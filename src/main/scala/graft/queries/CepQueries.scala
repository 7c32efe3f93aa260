package graft.queries

import graft.QueryDef
import graft.streaming.{Cep, StreamRunner}
import graft.streaming.Cep.{CepEvent, Pattern, Step}
import org.apache.spark.sql.functions._

/** CEP pattern queries (flink-cep / MATCH_RECOGNIZE subset): run as
  * real streaming jobs through [[graft.streaming.Cep]]. The NO_SKIP
  * variant emits every match combination — expressible as an ordered
  * self-join, so it gets a full DuckDB oracle (with the same watermark
  * cutoff: only events the watermark passed are processed). The greedy
  * SKIP_PAST_LAST variant is not SQL-expressible (that is the point of
  * CEP) → rows-only check + ScalaTest spec.
  */
object CepQueries {

  private val Wm = "1 hour"
  private val WithinMs = 3L * 24 * 3600 * 1000 // 3 days

  private def cepStream(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    StreamRunner.eventsStream(s, dir)
      .withWatermark("ts", Wm)
      .select(col("user_id").as("key"),
        expr("unix_micros(ts) div 1000").as("tsMs"),
        col("event_type").as("tag"), col("event_id").as("id"), col("ts"),
        col("value").as("num"))
      .as[CepEvent]
  }

  private def pattern(skipPastLast: Boolean) = Pattern(
    steps = Seq(
      Step("signup", _.tag == "signup"),
      Step("purchase", _.tag == "purchase"),
      Step("error", _.tag == "error")),
    withinMs = WithinMs, skipPastLast = skipPastLast)

  // ------------------------------------------------------------------
  // shared oracle fragments: every CEP oracle replays the same closed
  // input, and the greedy / next-position / LEAD shapes recur
  // ------------------------------------------------------------------

  private val MsCol = "CAST(floor(epoch_us(ts) / 1000) AS BIGINT)"

  /** `e AS (...` without its closing parenthesis: the events the final
    * watermark (max(ts) minus the 1-hour delay) has passed, as `cols`
    * plus epoch-millisecond `ms`, plus `more` (a column list led by its
    * own comma). Callers close it, so each keeps its layout.
    */
  private def closedEvents(cols: String, more: String = ""): String =
    s"""e AS (
        SELECT $cols,
               $MsCol AS ms$more
        FROM events
        WHERE ts <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)"""

  /** [[closedEvents]] with each user's processing position `rn`: the
    * (ms, event_id) order the NFA replays rows in.
    */
  private val rankedEvents = closedEvents("user_id, event_type, event_id",
    s""",
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY
                 $MsCol, event_id) AS rn""")

  /** `nx AS (...` without its closing parenthesis: each ranked event
    * plus, per (event type, column) in `next`, the position of the
    * user's first later event of that type.
    */
  private def nextPositions(next: (String, String)*): String = {
    val cols = next.map { case (tpe, c) =>
      s"""               MIN(CASE WHEN event_type = '$tpe' THEN rn END) OVER w
                 AS $c"""
    }.mkString(",\n")
    s"""nx AS (
        SELECT *,
$cols
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)"""
  }

  /** SKIP_PAST_LAST arbitration over the completed candidates `cand`:
    * repeatedly take the candidate with the earliest completion (ties
    * to the oldest start) among those starting after the previous
    * match's completion. `cols` / `cCols` list the carried columns.
    */
  private def greedyMatches(cols: String, cCols: String): String =
    s"""greedy AS (
        (SELECT $cols
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                          ORDER BY end_rn, s_rn) AS pick FROM cand)
         WHERE pick = 1)
        UNION ALL
        SELECT $cCols
        FROM greedy g, LATERAL (
          SELECT * FROM cand c
          WHERE c.user_id = g.user_id AND c.s_rn > g.end_rn
          ORDER BY c.end_rn, c.s_rn LIMIT 1) c
      )"""

  /** `o AS (...)`: each closed event with the type, id and ms of the
    * user's next `n` rows (`t1`, `id1`, `ms1`, ...) under strict
    * adjacency.
    */
  private def nextRows(n: Int): String = {
    val leads = (1 to n).map(i =>
      s"""               LEAD(event_type, $i) OVER w AS t$i,
               LEAD(event_id, $i) OVER w AS id$i,
               LEAD(ms, $i) OVER w AS ms$i""").mkString(",\n")
    s"""o AS (
        SELECT *,
$leads
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id))"""
  }

  /** The V-shape MATCH_RECOGNIZE of q88 / q102 (falling then rising
    * values, strict contiguity) under the AFTER MATCH `skip` strategy.
    */
  private def vShape(s: org.apache.spark.sql.SparkSession, dir: String,
      skip: String) =
    graft.MatchRecognizeSql.run(s, dir, s"""
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES A.event_id AS start_id, FIRST(DOWN.value) AS first_down,
                   LAST(DOWN.event_id) AS bottom_id,
                   LAST(UP.event_id) AS top_id, LAST(UP.value) AS last_up
          ONE ROW PER MATCH
          AFTER MATCH $skip
          PATTERN (A DOWN+ UP+)
          WITHIN INTERVAL '90' DAY
          DEFINE DOWN AS DOWN.value < PREV(DOWN.value),
                 UP AS UP.value > PREV(UP.value)
        )""")
      .orderBy(col("user_id"), col("start_id"))

  /** The V-shape oracle of q88 / q102: gaps-and-islands runs of falling
    * and rising values, every down-run followed by an up-run and a
    * break row, the start rows `startsOn` admits (a join predicate over
    * `p` the start row and `c` the V), and the MEASURES read off them.
    */
  private def vShapeOracle(startsOn: String): String = s"""
      WITH ${closedEvents("user_id, event_id, value")}),
      o AS (
        SELECT *, ROW_NUMBER() OVER w AS rn, LAG(value) OVER w AS pv
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
      d AS (
        SELECT *, CASE WHEN pv IS NULL THEN NULL
                       WHEN value < pv THEN 'D'
                       WHEN value > pv THEN 'U' ELSE 'F' END AS dir
        FROM o),
      ch AS (
        SELECT *, CASE WHEN dir IS DISTINCT FROM
                            LAG(dir) OVER (PARTITION BY user_id ORDER BY rn)
                       THEN 1 ELSE 0 END AS chg
        FROM d),
      isl AS (
        SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY rn) AS island
        FROM ch),
      runs AS (
        SELECT user_id, island, dir, MIN(rn) AS s, MAX(rn) AS en
        FROM isl GROUP BY user_id, island, dir),
      cand AS (
        SELECT dr.user_id, dr.s AS ds, dr.en AS de, ur.en AS ue
        FROM runs dr
        JOIN runs ur ON ur.user_id = dr.user_id AND ur.s = dr.en + 1
        WHERE dr.dir = 'D' AND ur.dir = 'U'
          AND ur.en < (SELECT MAX(rn) FROM isl i
                       WHERE i.user_id = dr.user_id)),
      starts AS (
        SELECT c.*, p.rn AS p_rn, p.event_id AS start_id
        FROM cand c
        JOIN isl p ON $startsOn)
      SELECT st.user_id AS user_id, st.start_id, fd.value AS first_down,
             bot.event_id AS bottom_id, top.event_id AS top_id,
             top.value AS last_up
      FROM starts st
      JOIN isl fd ON fd.user_id = st.user_id AND fd.rn = st.p_rn + 1
      JOIN isl bot ON bot.user_id = st.user_id AND bot.rn = st.de
      JOIN isl top ON top.user_id = st.user_id AND top.rn = st.ue
      ORDER BY user_id, start_id
    """

  // ------------------------------------------------------------------
  // q61 NO_SKIP: every signup → purchase → error within 3 days
  // ------------------------------------------------------------------

  val q61CepAllMatches: QueryDef = QueryDef(
    "q61_cep_all_matches",
    (s, dir) => {
      val m = Cep(cepStream(s, dir), pattern(skipPastLast = false)).toDF()
      StreamRunner.runToTable(m
          .select(col("key").as("user_id"),
            col("ids")(0).as("signup_id"), col("ids")(1).as("purchase_id"),
            col("ids")(2).as("error_id"),
            col("startTsMs").as("start_ms"), col("endTsMs").as("end_ms")),
          "append")
        .orderBy(col("user_id"), col("signup_id"), col("purchase_id"),
          col("error_id"))
    },
    Some(s"""
      WITH ${closedEvents("user_id, event_type, event_id")}
      )
      SELECT s.user_id, s.event_id AS signup_id, p.event_id AS purchase_id,
             r.event_id AS error_id, s.ms AS start_ms, r.ms AS end_ms
      FROM e s
      JOIN e p ON p.user_id = s.user_id AND p.event_type = 'purchase'
              AND (p.ms > s.ms OR (p.ms = s.ms AND p.event_id > s.event_id))
      JOIN e r ON r.user_id = s.user_id AND r.event_type = 'error'
              AND (r.ms > p.ms OR (r.ms = p.ms AND r.event_id > p.event_id))
      WHERE s.event_type = 'signup' AND r.ms - s.ms <= $WithinMs
      ORDER BY s.user_id, signup_id, purchase_id, error_id
    """))

  // ------------------------------------------------------------------
  // q62 SKIP_PAST_LAST: greedy single-pass matching. SQL-checkable
  // after all: each partial advances deterministically (first matching
  // event per step, non-strict steps survive gaps), so a signup s has a
  // fixed completion chain — first purchase after s, first error after
  // that purchase — valid iff error.ms - s.ms <= within. Greedy
  // arbitration = repeatedly pick the candidate with the earliest
  // completion position (ties → oldest signup) among signups after the
  // previous match's completion event; a recursive CTE walks that.
  // ------------------------------------------------------------------

  val q62CepSkipPastLast: QueryDef = QueryDef(
    "q62_cep_skip_past_last",
    (s, dir) => {
      val m = Cep(cepStream(s, dir), pattern(skipPastLast = true)).toDF()
      StreamRunner.runToTable(m
          .select(col("key").as("user_id"),
            col("ids")(0).as("signup_id"), col("ids")(1).as("purchase_id"),
            col("ids")(2).as("error_id")),
          "append")
        .orderBy(col("user_id"), col("signup_id"))
    },
    Some(s"""
      WITH RECURSIVE $rankedEvents
      ),
      ${nextPositions("purchase" -> "next_pur_rn", "error" -> "next_err_rn")}
      ),
      cand AS (
        SELECT s.user_id, s.rn AS s_rn, s.event_id AS signup_id,
               s.ms AS s_ms, p.event_id AS purchase_id,
               r.event_id AS error_id, r.rn AS end_rn
        FROM nx s
        JOIN nx p ON p.user_id = s.user_id AND p.rn = s.next_pur_rn
        JOIN nx r ON r.user_id = s.user_id AND r.rn = p.next_err_rn
        WHERE s.event_type = 'signup' AND r.ms - s.ms <= $WithinMs
      ),
      ${greedyMatches("user_id, s_rn, signup_id, purchase_id, error_id, end_rn",
        """c.user_id, c.s_rn, c.signup_id, c.purchase_id, c.error_id,
               c.end_rn""")}
      SELECT user_id, signup_id, purchase_id, error_id
      FROM greedy ORDER BY user_id, signup_id
    """))

  // ------------------------------------------------------------------
  // q78 SQL MATCH_RECOGNIZE: the Flink SQL surface translated onto the
  // same NFA with STRICT row-adjacency (SQL-standard pattern
  // concatenation) — oracle = per-key LEAD adjacency
  // ------------------------------------------------------------------

  val q78MatchRecognize: QueryDef = QueryDef(
    "q78_match_recognize",
    (s, dir) => {
      graft.MatchRecognizeSql.run(s, dir, """
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES A.event_id AS signup_id, B.event_id AS error_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (A B)
          WITHIN INTERVAL '1' DAY
          DEFINE A AS A.event_type = 'signup',
                 B AS B.event_type = 'error'
        )""")
        .orderBy(col("user_id"), col("signup_id"), col("error_id"))
    },
    Some(s"""
      WITH ${closedEvents("user_id, event_type, event_id")}),
      nxt AS (
        SELECT user_id, event_type, event_id, ms,
               LEAD(event_type) OVER w AS n_type,
               LEAD(event_id) OVER w AS n_id,
               LEAD(ms) OVER w AS n_ms
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id))
      SELECT user_id, event_id AS signup_id, n_id AS error_id
      FROM nxt
      WHERE event_type = 'signup' AND n_type = 'error'
        AND n_ms - ms <= 86400000
      ORDER BY user_id, signup_id, error_id
    """))

  // ------------------------------------------------------------------
  // q88 MATCH_RECOGNIZE V-shape (quantifiers + PREV + FIRST/LAST
  // MEASURES — the classic falling-then-rising price pattern,
  // StreamExecMatch's canonical example). Strict SQL contiguity means
  // DOWN/UP legs are consecutive rows per key; WITHIN 90 days exceeds
  // the 30-day data span, so matches emit exactly on contiguity break
  // (a processed row after the up-run). Oracle: gaps-and-islands run
  // analysis — every start row p whose next row begins/continues a
  // down-run, with the full following up-run and an existing break row.
  // ------------------------------------------------------------------

  val q88MatchRecognizeVShape: QueryDef = QueryDef(
    "q88_mr_vshape",
    (s, dir) => vShape(s, dir, "SKIP TO NEXT ROW"),
    Some(vShapeOracle("""p.user_id = c.user_id
                  AND p.rn BETWEEN c.ds - 1 AND c.de - 1""")))

  // ------------------------------------------------------------------
  // q89 CEP DSL quantifier: signup (click)+ purchase, relaxed
  // contiguity, greedy, SKIP PAST LAST. Deterministic chains again:
  // a signup's first click, then every further click until the first
  // purchase after that click, completing at that purchase; greedy
  // arbitration identical to q62's recursive-CTE scan.
  // ------------------------------------------------------------------

  val q89CepOneOrMore: QueryDef = QueryDef(
    "q89_cep_one_or_more",
    (s, dir) => {
      val pat = Pattern(
        steps = Seq(
          Step("signup", _.tag == "signup"),
          Step("click", _.tag == "click").oneOrMore,
          Step("purchase", _.tag == "purchase")),
        withinMs = WithinMs, skipPastLast = true)
      val m = Cep(cepStream(s, dir), pat).toDF()
      StreamRunner.runToTable(m
          .select(col("key").as("user_id"),
            col("ids")(0).as("signup_id"),
            expr("size(filter(stepIdxs, x -> x = 1))").as("n_clicks"),
            expr("element_at(filter(arrays_zip(stepIdxs, ids)," +
              " x -> x.stepIdxs = 1), 1).ids").as("first_click_id"),
            expr("element_at(filter(arrays_zip(stepIdxs, ids)," +
              " x -> x.stepIdxs = 1), -1).ids").as("last_click_id"),
            expr("element_at(ids, -1)").as("purchase_id")),
          "append")
        .orderBy(col("user_id"), col("signup_id"))
    },
    Some(s"""
      WITH RECURSIVE $rankedEvents
      ),
      ${nextPositions("click" -> "next_click_rn", "purchase" -> "next_pur_rn")}
      ),
      cand AS (
        SELECT s.user_id, s.rn AS s_rn, s.event_id AS signup_id,
               c1.event_id AS first_click_id, pu.rn AS end_rn,
               pu.event_id AS purchase_id,
               (SELECT COUNT(*) FROM e k
                WHERE k.user_id = s.user_id AND k.event_type = 'click'
                  AND k.rn > s.rn AND k.rn < pu.rn) AS n_clicks,
               (SELECT MAX_BY(k.event_id, k.rn) FROM e k
                WHERE k.user_id = s.user_id AND k.event_type = 'click'
                  AND k.rn > s.rn AND k.rn < pu.rn) AS last_click_id
        FROM nx s
        JOIN nx c1 ON c1.user_id = s.user_id AND c1.rn = s.next_click_rn
        JOIN nx pu ON pu.user_id = c1.user_id AND pu.rn = c1.next_pur_rn
        WHERE s.event_type = 'signup' AND pu.ms - s.ms <= $WithinMs
      ),
      ${greedyMatches("""user_id, s_rn, signup_id, n_clicks, first_click_id,
                last_click_id, purchase_id, end_rn""",
        """c.user_id, c.s_rn, c.signup_id, c.n_clicks,
               c.first_click_id, c.last_click_id, c.purchase_id, c.end_rn""")}
      SELECT user_id, signup_id, CAST(n_clicks AS INTEGER) AS n_clicks,
             first_click_id, last_click_id, purchase_id
      FROM greedy ORDER BY user_id, signup_id
    """))

  // ------------------------------------------------------------------
  // q95 notFollowedBy (flink-cep Pattern#notFollowedBy): signup, then
  // purchases with NO error in between — an error on the awaited edge
  // kills the partial. NO_SKIP all-combinations: every (signup,
  // purchase) pair up to the signup's first subsequent error, within
  // the window. Oracle: inequality join bounded by next-error position.
  // ------------------------------------------------------------------

  val q95CepNotFollowedBy: QueryDef = QueryDef(
    "q95_cep_not_followed_by",
    (s, dir) => {
      val pat = Pattern(
        steps = Seq(
          Step("signup", _.tag == "signup"),
          Step("purchase", _.tag == "purchase",
            notBefore = _.tag == "error")),
        withinMs = WithinMs, skipPastLast = false)
      val m = Cep(cepStream(s, dir), pat).toDF()
      StreamRunner.runToTable(m
          .select(col("key").as("user_id"),
            col("ids")(0).as("signup_id"), col("ids")(1).as("purchase_id")),
          "append")
        .orderBy(col("user_id"), col("signup_id"), col("purchase_id"))
    },
    Some(s"""
      WITH $rankedEvents),
      ${nextPositions("error" -> "next_err_rn")})
      SELECT s.user_id, s.event_id AS signup_id, p.event_id AS purchase_id
      FROM nx s
      JOIN e p ON p.user_id = s.user_id AND p.event_type = 'purchase'
              AND p.rn > s.rn
              AND (s.next_err_rn IS NULL OR p.rn < s.next_err_rn)
              AND p.ms - s.ms <= $WithinMs
      WHERE s.event_type = 'signup'
      ORDER BY s.user_id, signup_id, purchase_id
    """))

  // ------------------------------------------------------------------
  // q101 MATCH_RECOGNIZE optional step (Flink `Pattern#optional` / SQL
  // `B?`): view → optional click → purchase under strict adjacency.
  // Deterministic per start row: the next row is either the purchase
  // (B skipped, click_id NULL) or a click whose next row is the
  // purchase — LEAD-twice oracle.
  // ------------------------------------------------------------------

  val q101MrOptional: QueryDef = QueryDef(
    "q101_mr_optional",
    (s, dir) => {
      graft.MatchRecognizeSql.run(s, dir, """
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES A.event_id AS view_id, B.event_id AS click_id,
                   C.event_id AS purchase_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (A B? C)
          WITHIN INTERVAL '7' DAY
          DEFINE A AS A.event_type = 'view',
                 B AS B.event_type = 'click',
                 C AS C.event_type = 'purchase'
        )""")
        .orderBy(col("user_id"), col("view_id"))
    },
    Some(s"""
      WITH ${closedEvents("user_id, event_id, event_type")}),
      ${nextRows(2)}
      SELECT user_id, event_id AS view_id,
             CASE WHEN t1 = 'click' THEN id1 END AS click_id,
             CASE WHEN t1 = 'purchase' THEN id1 ELSE id2 END AS purchase_id
      FROM o
      WHERE event_type = 'view' AND (
        (t1 = 'purchase' AND ms1 - ms <= 604800000)
        OR (t1 = 'click' AND t2 = 'purchase' AND ms2 - ms <= 604800000))
      ORDER BY user_id, view_id
    """))

  // ------------------------------------------------------------------
  // q102 AFTER MATCH SKIP TO LAST: q88's V-shape with SKIP TO LAST
  // DOWN. All starts of one V complete on the same break row; the
  // earliest emits first and its skip row (the V's bottom) prunes the
  // later starts — so exactly ONE match per V survives, the one
  // starting at the row before the down-run. Oracle = q88's
  // gaps-and-islands analysis with starts pinned to ds-1.
  // ------------------------------------------------------------------

  val q102MrSkipToLast: QueryDef = QueryDef(
    "q102_mr_skip_to_last",
    (s, dir) => vShape(s, dir, "SKIP TO LAST DOWN"),
    Some(vShapeOracle("p.user_id = c.user_id AND p.rn = c.ds - 1")))

  // ------------------------------------------------------------------
  // q115 TRAILING optional step (Flink `Pattern#optional` at the last
  // position): view → optional immediately-next click. Greedy-maximal
  // completion: the match waits for the click and emits without it
  // when the strict edge breaks (next row isn't a click) or the
  // within-window closes. click_id is the next row's id iff it is a
  // click — LEAD-once oracle. A view emits ONLY when its completion is
  // observable by the final watermark (= max(ts) - 1h delay): either a
  // later replayed row exists for the user (click consumes / break
  // emits), or the 7-day window closed before the final watermark —
  // the same finality convention the other streaming oracles encode.
  // ------------------------------------------------------------------

  val q115MrTrailingOptional: QueryDef = QueryDef(
    "q115_mr_trailing_optional",
    (s, dir) => {
      graft.MatchRecognizeSql.run(s, dir, """
        SELECT * FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES A.event_id AS view_id, B.event_id AS click_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (A B?)
          WITHIN INTERVAL '7' DAY
          DEFINE A AS A.event_type = 'view',
                 B AS B.event_type = 'click'
        )""")
        .orderBy(col("user_id"), col("view_id"))
    },
    Some(s"""
      WITH ${closedEvents("user_id, event_id, event_type")}),
      ${nextRows(1)}
      SELECT user_id, event_id AS view_id,
             CASE WHEN t1 = 'click' AND ms1 - ms <= 604800000
                  THEN id1 END AS click_id
      FROM o
      WHERE event_type = 'view'
        AND (t1 IS NOT NULL
             OR (SELECT CAST(floor(epoch_us(max(ts)) / 1000) AS BIGINT)
                   - 3600000 FROM events) - ms > 604800000)
      ORDER BY user_id, view_id
    """))

  // ------------------------------------------------------------------
  // q120 AFTER MATCH SKIP TO NEXT (flink-cep
  // AfterMatchSkipStrategy#skipToNext, distinct from #noSkip): at most
  // ONE match per start event. signup → purchase relaxed: NO_SKIP
  // pairs a signup with EVERY later purchase in the window (q61-style
  // combinations); SKIP_TO_NEXT kills the signup's remaining partials
  // the moment its first match emits — so each signup pairs with its
  // FIRST subsequent purchase only. Oracle: next-purchase position per
  // signup via the forward-window MIN, like q62's nx CTE.
  // ------------------------------------------------------------------

  val q120CepSkipToNext: QueryDef = QueryDef(
    "q120_cep_skip_to_next",
    (s, dir) => {
      val pat = Pattern(
        steps = Seq(
          Step("signup", _.tag == "signup"),
          Step("purchase", _.tag == "purchase")),
        withinMs = WithinMs, skipPastLast = false, skipToNext = true)
      val m = Cep(cepStream(s, dir), pat).toDF()
      StreamRunner.runToTable(m
          .select(col("key").as("user_id"),
            col("ids")(0).as("signup_id"), col("ids")(1).as("purchase_id")),
          "append")
        .orderBy(col("user_id"), col("signup_id"))
    },
    Some(s"""
      WITH $rankedEvents),
      ${nextPositions("purchase" -> "next_pur_rn")})
      SELECT s.user_id, s.event_id AS signup_id, p.event_id AS purchase_id
      FROM nx s
      JOIN e p ON p.user_id = s.user_id AND p.rn = s.next_pur_rn
      WHERE s.event_type = 'signup' AND p.ms - s.ms <= $WithinMs
      ORDER BY s.user_id, signup_id
    """))

  val all: Seq[QueryDef] =
    Seq(q61CepAllMatches, q62CepSkipPastLast, q78MatchRecognize,
      q88MatchRecognizeVShape, q89CepOneOrMore, q95CepNotFollowedBy,
      q101MrOptional, q102MrSkipToLast, q115MrTrailingOptional,
      q120CepSkipToNext)
}
