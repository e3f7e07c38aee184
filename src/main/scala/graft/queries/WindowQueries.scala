package graft.queries

import graft.Tables
import graft.queries.Relational.dsum
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Window functions and event-time bucketing: sliding and
  * arbitrary-width time windows (q52, q82), dynamic-gap sessions
  * (q84), ranking and navigation functions (q59, q76), rank-filter
  * top-k and keep-latest (q77, q79), the numeric RANGE frame (q83),
  * forward fill (q94) and calendar-spine gap detection (q92). The
  * flagship time-based RANGE window (q20) and the core ROWS / LAG
  * shapes stay in [[Relational]].
  */
object WindowQueries {

  // ---------------------------------------------------------------- q52
  /** Sliding event-time windows (2 h length, 30 min slide): each event
    * lands in 4 overlapping windows. Oracle reconstructs Spark's
    * aligned window-start set arithmetically (starts ≡ 0 mod slide in
    * (ts-2h, ts]).
    */
  private def q52(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "2 hours", "30 minutes").as("win"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .select(col("win.start").as("win_start"), col("event_type"),
        col("n"), col("total"))
      .orderBy("win_start", "event_type")

  private val q52Sql =
    """SELECT CAST(to_timestamp(FLOOR(epoch(ts) / 1800) * 1800 - i * 1800) AS TIMESTAMP) AS win_start,
      |       event_type, COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events CROSS JOIN (SELECT UNNEST(range(4)) AS i)
      |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin

  // ---------------------------------------------------------------- q59
  /** Ranking-window variants beyond q19/q21: ntile quartiles,
    * cumulative distribution and percent rank of order totals within
    * each priority class. One shuffle on the partition key; all three
    * functions share the same window spec, so they evaluate in a
    * single Window operator pass.
    */
  private def q59(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    // orders begin 1995-01-01 in every SF — two months of data keeps
    // the result real (the earlier 1992 cutoff matched ZERO rows, a
    // vacuously-green oracle)
    Tables.orders(s, dir)
      .filter(col("o_orderdate") < lit("1995-03-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        ntile(4).over(w).as("quartile"),
        round(cume_dist().over(w), 6).as("cdist"),
        round(percent_rank().over(w), 6).as("prank"))
      .orderBy("o_orderkey")
  }

  private val q59Sql =
    """SELECT o_orderkey, o_orderpriority, o_totalprice,
      |       CAST(ntile(4) OVER w AS INT) AS quartile,
      |       ROUND(cume_dist() OVER w, 6) AS cdist,
      |       ROUND(percent_rank() OVER w, 6) AS prank
      |FROM orders
      |WHERE o_orderdate < TIMESTAMP '1995-03-01'
      |WINDOW w AS (PARTITION BY o_orderpriority
      |             ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q76
  /** Window navigation functions: first / last / nth value of each
    * user's event sequence attached to every event. One shuffle on the
    * partition key; all three share one full-frame window spec, so
    * they evaluate in a single Window pass.
    */
  private def q76(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        first(col("value")).over(w).as("first_v"),
        last(col("value")).over(w).as("last_v"),
        nth_value(col("value"), 2).over(w).as("second_v"))
      .orderBy("event_id")
  }

  private val q76Sql =
    """SELECT event_id, user_id, value,
      |       first_value(value) OVER w AS first_v,
      |       last_value(value) OVER w AS last_v,
      |       nth_value(value, 2) OVER w AS second_v
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q77
  /** Per-group top-k: the 2 highest-value orders per priority class.
    * Expressed as a rank-filter so Spark plans a `WindowGroupLimit`:
    * each map task keeps only k rows per group BEFORE the shuffle, so
    * the exchange carries O(groups × k × tasks), not the table — the
    * at-scale shape of grouped top-k (same two-phase idea as q39's
    * global top-k, done for free by the optimizer).
    */
  private def q77(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rk"))
      .filter(col("rk") <= 2)
      .orderBy("o_orderpriority", "rk")
  }

  private val q77Sql =
    """SELECT * FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |         CAST(row_number() OVER (PARTITION BY o_orderpriority
      |                ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
      |  FROM orders)
      |WHERE rk <= 2 ORDER BY o_orderpriority, rk""".stripMargin

  // ---------------------------------------------------------------- q79
  /** Distinct-on / keep-latest: one row per (user, event_type) — the
    * newest event (CDC-style "current state" compaction; ibis
    * `distinct(on=..., keep=...)`). Rank-filter form again so the
    * shuffle is `WindowGroupLimit`-pruned to one row per group per
    * map task.
    */
  private def q79(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("value"),
        row_number().over(w).as("rk"))
      .filter(col("rk") === 1)
      .drop("rk")
      .orderBy("user_id", "event_type")
  }

  private val q79Sql =
    """SELECT user_id, event_type, event_id, ts, value FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
      |              ORDER BY ts DESC, event_id DESC) AS rk
      |  FROM events)
      |WHERE rk = 1 ORDER BY user_id, event_type""".stripMargin

  // ---------------------------------------------------------------- q82
  /** Arbitrary-width time bucketing: 45-minute tumbling buckets via
    * `window()` (epoch-aligned — not expressible with date_trunc),
    * counted and exact-decimal-summed per (bucket, event_type). One
    * partial-agg shuffle; bucket assignment is row-local.
    */
  private def q82(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "45 minutes").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total"))
      .select(col("win.start").as("bucket_start"), col("event_type"),
        col("n"), col("total"))
      .orderBy("bucket_start", "event_type")

  private val q82Sql =
    """SELECT time_bucket(INTERVAL '45 minutes', ts, TIMESTAMP '1970-01-01')
      |         AS bucket_start,
      |       event_type, COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events
      |GROUP BY bucket_start, event_type
      |ORDER BY bucket_start, event_type""".stripMargin

  // ---------------------------------------------------------------- q83
  /** Numeric-RANGE window frame: for each order, how many orders of
    * the same priority fall within 1000.00 of its price, and their
    * exact-decimal sum — the value-based frame variant of q20's
    * time-based RANGE (the last window-frame flavor in the ibis
    * surface). One shuffle on the partition key. Prices are
    * 2-decimal; the 1000.00 bound lands on exact decimal values in
    * both engines, so frame membership is bit-identical.
    */
  private def q83(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"))
      .rangeBetween(-1000L, 0L)
    Tables.orders(s, dir)
      .filter(col("o_orderkey") % 7 === 0) // thin deterministically
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        count(lit(1)).over(w).as("n_near"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("near_total"))
      .orderBy("o_orderkey")
  }

  private val q83Sql =
    """SELECT o_orderkey, o_orderpriority, o_totalprice,
      |       COUNT(*) OVER w AS n_near,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
      |         AS near_total
      |FROM orders
      |WHERE o_orderkey % 7 = 0
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice
      |             RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q84
  /** Dynamic-gap session windows: the inactivity gap depends on the
    * event (clicks cool off in 10 min, views in 15, the rest in 30) —
    * the per-row-gap session semantics Flink-style engines expose.
    * `session_window(ts, CASE ...)` merges overlapping per-event
    * windows; end = max end of the merged set. One shuffle on the
    * session key. Oracle = running-max island formulation (a session
    * breaks exactly when an event's start reaches the max end of
    * everything before it).
    */
  private def q84(s: SparkSession, dir: String): DataFrame = {
    val gap = when(col("event_type") === "click", "10 minutes")
      .when(col("event_type") === "view", "15 minutes")
      .otherwise("30 minutes")
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("win"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total"))
      .select(col("user_id"), col("win.start").as("session_start"),
        col("win.end").as("session_end"), col("n_events"), col("total"))
      .orderBy("user_id", "session_start")
  }

  private val q84Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, ts, value,
      |         ts + CASE event_type WHEN 'click' THEN INTERVAL 10 MINUTES
      |                              WHEN 'view' THEN INTERVAL 15 MINUTES
      |                              ELSE INTERVAL 30 MINUTES END AS win_end
      |  FROM events),
      |m AS (
      |  SELECT *, MAX(win_end) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |              AS prev_max_end
      |  FROM e),
      |f AS (SELECT *, CASE WHEN prev_max_end IS NULL OR ts >= prev_max_end
      |                     THEN 1 ELSE 0 END AS is_new FROM m),
      |s AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS UNBOUNDED PRECEDING) AS sid FROM f)
      |SELECT user_id, MIN(ts) AS session_start, MAX(win_end) AS session_end,
      |       COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  // ---------------------------------------------------------------- q92
  /** Calendar-spine gap detection: generate each user's full day
    * spine between their first and last event, anti-join observed
    * days, report missing-day counts — the completeness audit every
    * ingestion pipeline runs. The spine is a row-local `sequence`
    * explode off a tiny per-user aggregate; the anti-join shuffles
    * (user, day) pairs only.
    */
  private def q92(s: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val spans = days.groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"),
        count(lit(1)).as("n_active_days"))
    val spine = spans.select(col("user_id"), col("n_active_days"),
      explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    spine.join(days, Seq("user_id", "day"), "left_anti")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_missing_days"),
        min(col("day")).as("first_gap_day"))
      .orderBy("user_id")
  }

  private val q92Sql =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |spans AS (
      |  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM days GROUP BY 1),
      |spine AS (
      |  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM spans),
      |missing AS (
      |  SELECT s.user_id, s.day FROM spine s
      |  LEFT JOIN days d ON s.user_id = d.user_id AND s.day = d.day
      |  WHERE d.user_id IS NULL)
      |SELECT user_id, COUNT(*) AS n_missing_days, MIN(day) AS first_gap_day
      |FROM missing GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q94
  /** Time-series forward fill: treat 'view' events as gaps and carry
    * the last observed value forward per user (`last(..., ignoreNulls)`
    * over a running ROWS frame) — the gap-repair primitive for sensor /
    * metric streams. One shuffle on user_id, then a single Window pass;
    * leading gaps stay NULL on both engines.
    */
  private def q94(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_type") === "view", lit(null)).otherwise(col("value"))
          .as("v"))
      .select(col("event_id"), col("user_id"),
        round(last(col("v"), ignoreNulls = true).over(w), 2).as("filled"))
      .orderBy("event_id")
  }

  private val q94Sql =
    """SELECT event_id, user_id,
      |  ROUND(last_value(CASE WHEN event_type = 'view' THEN NULL ELSE value END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS filled
      |FROM events ORDER BY event_id""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q52_sliding_window", q52, Some(q52Sql)),
    Query("q59_window_rank_funcs", q59, Some(q59Sql)),
    Query("q76_window_nav", q76, Some(q76Sql)),
    Query("q77_grouped_topk", q77, Some(q77Sql)),
    Query("q79_keep_latest", q79, Some(q79Sql)),
    Query("q82_time_bucket", q82, Some(q82Sql)),
    Query("q83_range_numeric", q83, Some(q83Sql)),
    Query("q84_dynamic_session", q84, Some(q84Sql)),
    Query("q92_date_spine", q92, Some(q92Sql)),
    Query("q94_forward_fill", q94, Some(q94Sql)))
}
