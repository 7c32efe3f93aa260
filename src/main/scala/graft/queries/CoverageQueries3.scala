package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Fourth coverage batch: non-equi (theta/band) join over an inline
  * VALUES relation (§2.4 BatchExecNestedLoopJoin + §2.1 Values),
  * typed cogroup (§2.4 windowed cogroup / DataSet coGroup), and a
  * partitioned ORC round-trip (§2.1 filesystem formats + partition
  * discovery).
  */
object CoverageQueries3 {

  // ------------------------------------------------------------------
  // q75 theta/band join: value-tier lookup via non-equi predicate.
  // The tiers relation is an inline VALUES local relation; with no
  // equi-key Catalyst plans BroadcastNestedLoopJoin — the reference's
  // broadcast NL join for theta joins.
  // ------------------------------------------------------------------

  val q75ThetaJoin: QueryDef = QueryDef(
    "q75_theta_join",
    (s, dir) => {
      val tiers = s.sql(
        """SELECT * FROM VALUES ('small', 0.0, 100.0),
          |  ('medium', 100.0, 300.0), ('large', 300.0, 1000000.0)
          |  AS tiers(tier, lo, hi)""".stripMargin)
      Tables.load(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .join(tiers, col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(QueryDef.Money)).cast("double").as("total"))
        .orderBy(col("tier"))
    },
    Some("""
      SELECT tier, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM events
      JOIN (VALUES ('small', 0.0, 100.0), ('medium', 100.0, 300.0),
                   ('large', 300.0, 1000000.0)) AS tiers(tier, lo, hi)
        ON value >= lo AND value < hi
      WHERE event_type = 'purchase'
      GROUP BY tier
      ORDER BY tier
    """))

  // ------------------------------------------------------------------
  // q76 typed cogroup: customer ⋈ orders per key with BOTH groups in
  // hand (DataSet coGroup / CoGroupedStreams semantics — includes
  // customers with zero orders, which a plain join would drop)
  // ------------------------------------------------------------------

  val q76Cogroup: QueryDef = QueryDef(
    "q76_cogroup",
    (s, dir) => {
      import s.implicits._
      val customers = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as[Long], col("c_name").as[String])
        .groupByKey(_._1)
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_custkey").as[Long],
          (col("o_totalprice").cast(QueryDef.Money) * 100)
            .cast("long").as[Long])
        .groupByKey(_._1)
      customers.cogroup(orders) { (k, cs, os) =>
        cs.map { case (_, name) =>
          var n = 0L; var cents = 0L
          os.foreach { case (_, c) => n += 1; cents += c }
          (k, name, n, cents.toDouble / 100.0)
        }
      }.toDF("c_custkey", "c_name", "n_orders", "total_spend")
        .orderBy(col("c_custkey"))
    },
    Some("""
      SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
             CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 0)
                  AS DOUBLE) AS total_spend
      FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      GROUP BY c_custkey, c_name
      ORDER BY c_custkey
    """))

  // ------------------------------------------------------------------
  // q77 partitioned ORC round-trip: hive-style partitioned write
  // (partition column re-discovered on read — §2.1 partitioned
  // filesystem source; partition pruning applies to the read-back)
  // ------------------------------------------------------------------

  val q77OrcPartitioned: QueryDef = QueryDef(
    "q77_orc_partitioned",
    (s, dir) => {
      val tmp = graft.operators.TmpWorkspaces
        .pidScoped("graft_orc_q77_", dir).toString
      Tables.load(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"),
          col("p_size").cast("int").as("p_size"))
        .write.mode("overwrite").partitionBy("p_brand")
        .orc(s"$tmp/part_orc")
      s.read.orc(s"$tmp/part_orc")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(col("p_size")).as("sum_size"))
        .orderBy(col("p_brand"))
    },
    Some("""
      SELECT p_brand, COUNT(*) AS n,
             CAST(SUM(CAST(p_size AS INT)) AS BIGINT) AS sum_size
      FROM part
      GROUP BY p_brand
      ORDER BY p_brand
    """))

  // ------------------------------------------------------------------
  // q80 FOR SYSTEM_TIME AS OF in SQL: the Flink temporal-join text
  // translated onto TemporalJoin.asOf (graft.FlinkSql.temporalSql)
  // ------------------------------------------------------------------

  val q80FlinkSqlTemporal: QueryDef = QueryDef(
    "q80_flink_sql_temporal",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
        .createOrReplaceTempView("clicks")
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"),
          col("value").as("purchase_value"))
        .createOrReplaceTempView("purchases")
      graft.FlinkSql.temporalSql(s,
        """SELECT c.click_id, c.user_id, p.purchase_id, p.purchase_value
          |FROM clicks AS c
          |JOIN purchases FOR SYSTEM_TIME AS OF c.ts AS p
          |  ON c.user_id = p.user_id""".stripMargin,
        tieBreak = Some("purchase_id"))
        .orderBy(col("click_id"))
    },
    Some("""
      SELECT c.event_id AS click_id, c.user_id,
             p.event_id AS purchase_id, p.value AS purchase_value
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id AND c.ts >= p.ts
      ORDER BY click_id
    """))

  // ------------------------------------------------------------------
  // q83 dynamic-gap session windows (§2.10 DynamicEventTimeSessionWindows):
  // per-event gap expression — purchases hold sessions open 30 min,
  // everything else 10 min. Oracle = exact µs sessionization via
  // running-max-of-ends (session break when ts >= max prior end;
  // [start, end) half-open like Spark/Flink).
  // ------------------------------------------------------------------

  val q83DynamicSession: QueryDef = QueryDef(
    "q83_dynamic_session",
    (s, dir) => {
      // make_interval → CalendarIntervalType (ANSI INTERVAL literals are
      // DayTimeIntervalType, which session_window rejects)
      val gap = when(col("event_type") === "purchase",
        expr("make_interval(0, 0, 0, 0, 0, 30, 0)"))
        .otherwise(expr("make_interval(0, 0, 0, 0, 0, 10, 0)"))
      val agg = graft.streaming.StreamRunner.eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), gap), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("sess_start"),
          unix_micros(col("session_window.end")).as("sess_end"), col("n"))
      graft.streaming.StreamRunner.runToTable(agg, "append")
        .orderBy(col("user_id"), col("sess_start"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, epoch_us(ts) AS us,
               epoch_us(ts) + CASE WHEN event_type = 'purchase'
                 THEN 1800000000 ELSE 600000000 END AS ends
        FROM events),
      m AS (
        SELECT user_id, us, ends,
               MAX(ends) OVER (PARTITION BY user_id ORDER BY us
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS prev_max
        FROM e),
      s AS (
        SELECT user_id, us, ends,
               SUM(CASE WHEN prev_max IS NULL OR us >= prev_max
                   THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY us
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS sid
        FROM m)
      SELECT user_id, MIN(us) AS sess_start, MAX(ends) AS sess_end,
             COUNT(*) AS n
      FROM s
      GROUP BY user_id, sid
      HAVING MAX(ends) <=
        (SELECT (epoch_us(max(ts)) // 1000 - 3600000) * 1000 FROM events)
      ORDER BY user_id, sess_start
    """))

  // ------------------------------------------------------------------
  // q93 salted skew join (§2.12 partitioning): lineitem salted 8 ways
  // on a deterministic row hash, the order side replicated per salt —
  // result identical to the plain inner join, which IS the oracle.
  // PlanSpec pins the shuffle keys including the salt column.
  // ------------------------------------------------------------------

  val q93SaltedSkewJoin: QueryDef = QueryDef(
    "q93_salted_skew_join",
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val ord = Tables.load(s, dir, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.SkewJoin
        .saltedInner(li, ord, "l_orderkey", "l_linenumber", 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).cast("long").as("sum_qty"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, COUNT(*) AS n,
             CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority
    """))

  // ------------------------------------------------------------------
  // q94 bucketed co-located join (§2.12): both sides written bucketed
  // by the join key, read back, joined WITHOUT a join-side exchange —
  // the pre-shuffled layout big batch jobs use so repeated joins never
  // pay the shuffle again. PlanSpec asserts the exchange-free join.
  // ------------------------------------------------------------------

  val q94BucketedJoin: QueryDef = QueryDef(
    "q94_bucketed_join",
    (s, dir) => {
      val tmp = graft.operators.TmpWorkspaces
        .pidScoped("graft_buckets_q94_", dir).toString
      s.sql("DROP TABLE IF EXISTS graft_li_b")
      s.sql("DROP TABLE IF EXISTS graft_ord_b")
      Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 6000)
        .select(col("l_orderkey"), col("l_quantity"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$tmp/li").saveAsTable("graft_li_b")
      Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") <= 6000)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$tmp/ord").saveAsTable("graft_ord_b")
      // merge hint: at fixture scale AQE would broadcast the order side,
      // which hides the point — at warehouse scale neither side
      // broadcasts and the bucketed layout is what kills the shuffle
      s.table("graft_li_b").hint("merge")
        .join(s.table("graft_ord_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).cast("long").as("sum_qty"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""
      SELECT o_orderpriority, COUNT(*) AS n,
             CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_orderkey <= 6000 AND o_orderkey <= 6000
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority
    """))

  val all: Seq[QueryDef] =
    Seq(q75ThetaJoin, q76Cogroup, q77OrcPartitioned, q80FlinkSqlTemporal,
      q83DynamicSession, q93SaltedSkewJoin, q94BucketedJoin)
}
