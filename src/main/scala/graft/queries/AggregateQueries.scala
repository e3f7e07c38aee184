package graft.queries

import graft.Tables
import graft.functions.{CmsEstimate, TextFunctions => T}
import graft.queries.Relational.dsum
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Aggregation surface: exact quantiles and mode (q44, q117),
  * pivot / unpivot (q48, q89), cube, rollup markers and grouping sets
  * (q50, q91, q107), skew-mitigated aggregation (q58), column
  * profiling (q86), the extra, statistical, string and bitwise
  * aggregates (q95, q110, q115, q116), funnel / retention / outlier
  * analytics (q103, q104, q106) and mergeable sketches (q121, q122,
  * q127).
  *
  * Sketch oracle design: a sketch estimate can never hash-match an
  * exact engine, so these queries return the EXACT answer plus
  * booleans asserting the sketch landed within its error contract.
  * Both engines agree on the exact columns; the booleans are TRUE in
  * the oracle, so a sketch regression (wrong rsd, broken merge) flips
  * a hash-checked value — a stronger gate than the previous
  * "spec-only" stance (the sketches are deterministic for fixed data,
  * so this is stable, and it is verified at sf0.001/0.01/0.1 by the
  * cross-SF sweep).
  */
object AggregateQueries {

  // ---------------------------------------------------------------- q44
  /** Exact quantiles (linear interpolation — Spark `percentile` ≡
    * DuckDB `quantile_cont`), rounded to absorb interpolation-order
    * ULP differences. The approx sketch path (`approx_percentile`,
    * HLL) is spec-only: sketches can't hash-match across engines.
    */
  private def q44(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.75)"), 4).as("p75"),
        round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95"))
      .orderBy("l_returnflag")

  private val q44Sql =
    """SELECT l_returnflag,
      |       ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
      |       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |       ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
      |       ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q48
  /** Pivot (wide aggregation). Explicit value list keeps the output
    * schema static — required for both determinism and (at scale) for
    * avoiding the extra distinct-values job Spark otherwise runs.
    * Oracle: portable CASE-WHEN aggregation (same semantics).
    */
  private def q48(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(dsum(col("value")))
      .na.fill(0.0)
      .orderBy("user_id")

  private val q48Sql = {
    def c(t: String) =
      s"COALESCE(CAST(SUM(CAST(CASE WHEN event_type = '$t' THEN value END AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS $t"
    s"""SELECT user_id, ${c("click")}, ${c("view")}, ${c("purchase")},
       |       ${c("signup")}, ${c("error")}
       |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  // ---------------------------------------------------------------- q50
  private def q50(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(asc_nulls_first("o_orderstatus"),
        asc_nulls_first("o_orderpriority"))

  private val q50Sql =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q58
  /** Skew-mitigated aggregation over a deliberately hot key:
    * `event_type` has a handful of values over the whole events
    * table, so a naive exact-COUNT(DISTINCT)/heavy-state agg lands
    * each type's entire data on one reducer. Two skew templates:
    *
    *  - exact distinct users: pre-distinct on the COMPOSITE key
    *    (type, user) — that shuffle is spread across the cluster by
    *    the user dimension — then the per-type count aggregates a
    *    distinct-sized input;
    *  - salted two-phase sum/count: explicit 32-way salt on the first
    *    shuffle, merge partials on the bare key. (For algebraic aggs
    *    Spark's map-side partial agg already achieves this; the salt
    *    column is the template for non-algebraic per-key state —
    *    collect_list/UDAF buffers — where partial agg can't save you.)
    *
    * Exact-decimal sums so the salted merge is bit-equal to the
    * oracle's single-pass SUM.
    */
  private def q58(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
    val users = ev.select("event_type", "user_id").distinct()
      .groupBy("event_type").agg(count(lit(1)).as("n_users"))
    val salted = ev
      .withColumn("salt", pmod(xxhash64(col("event_id")), lit(32)))
      .groupBy(col("event_type"), col("salt"))
      .agg(sum(col("value").cast(DecimalType(18, 2))).as("ps"),
        count(lit(1)).as("pc"))
      .groupBy("event_type")
      .agg(sum(col("ps")).cast("double").as("total"), sum(col("pc")).as("n"))
    users.join(salted, Seq("event_type")).orderBy("event_type")
  }

  private val q58Sql =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |       COUNT(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q86
  /** Single-pass column profiling (the dataframe `describe` surface):
    * null count and exact distinct count per column of `events`, one
    * scan + one aggregate row unpivoted with `stack`. At 100 TB the
    * exact COUNT(DISTINCT) pairs become `approx_count_distinct`
    * sketches (mergeable map-side) — same plan, sketch instead of
    * exact; exact here so DuckDB reproduces it.
    */
  private def q86(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("event_id", "user_id", "event_type", "value")
    val aggs = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_distinct"))
    }
    val stackExpr = cols.map(c => s"'$c', ${c}_nulls, ${c}_distinct")
      .mkString(s"stack(${cols.size}, ", ", ", ") as (column_name, n_nulls, n_distinct)")
    Tables.events(s, dir)
      .agg(aggs.head, aggs.tail: _*)
      .select(expr(stackExpr))
      .orderBy("column_name")
  }

  private val q86Sql =
    """SELECT column_name, n_nulls, n_distinct FROM (
      |  SELECT 'event_id' AS column_name,
      |         CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
      |         COUNT(DISTINCT event_id) AS n_distinct FROM events
      |  UNION ALL
      |  SELECT 'user_id',
      |         CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |         COUNT(DISTINCT user_id) FROM events
      |  UNION ALL
      |  SELECT 'event_type',
      |         CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |         COUNT(DISTINCT event_type) FROM events
      |  UNION ALL
      |  SELECT 'value',
      |         CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |         COUNT(DISTINCT value) FROM events)
      |ORDER BY column_name""".stripMargin

  // ---------------------------------------------------------------- q89
  /** Unpivot / melt: lineitem's three measure columns into long-form
    * (measure, value) rows via the native `unpivot` operator — the
    * inverse of q48's pivot and the wide→long reshape every metrics
    * pipeline needs. Row-local 3× expansion, then one partial-agg
    * shuffle on (returnflag, measure).
    */
  private def q89(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .unpivot(
        ids = Array(col("l_returnflag")),
        values = Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        variableColumnName = "measure",
        valueColumnName = "v")
      .groupBy("l_returnflag", "measure")
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total"))
      .orderBy("l_returnflag", "measure")

  private val q89Sql =
    """WITH u AS (
      |  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS v FROM lineitem
      |  UNION ALL
      |  SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL
      |  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem)
      |SELECT l_returnflag, measure, COUNT(*) AS n,
      |       CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM u GROUP BY l_returnflag, measure
      |ORDER BY l_returnflag, measure""".stripMargin

  // ---------------------------------------------------------------- q91
  /** Rollup with `grouping()` markers: subtotal rows carry NULL in
    * the rolled-up column, indistinguishable from genuine NULL data —
    * `grouping(col)` is the standard disambiguator (1 = subtotal,
    * 0 = real group). Completes q24's rollup coverage; same one
    * partial-agg shuffle.
    */
  private def q91(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast("double").as("total"),
        grouping(col("o_orderpriority")).cast("int").as("g_priority"),
        grouping(col("o_orderstatus")).cast("int").as("g_status"))
      .orderBy(col("g_priority"), col("g_status"),
        col("o_orderpriority").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)

  private val q91Sql =
    """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
      |       CAST(GROUPING(o_orderstatus) AS INT) AS g_status
      |FROM orders
      |GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
      |ORDER BY g_priority, g_status,
      |         o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q95
  /** The remaining aggregate surface: count_if, bool_and/bool_or,
    * exact median, and max_by/min_by with a composite (value, id)
    * ordering key so ties are deterministic. All partial-aggregable
    * except median (one extra sort inside the group — swap for
    * approx_percentile at 100 TB); max_by/min_by keep ONE row of state
    * per group, the scalable argmax shape.
    */
  private def q95(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        expr("count_if(value > 250)").as("n_big"),
        expr("bool_and(value >= 0)").as("all_nonneg"),
        expr("bool_or(value > 480)").as("any_huge"),
        round(expr("median(value)"), 4).as("med"),
        expr("max_by(user_id, struct(value, event_id))").as("top_user"),
        expr("min_by(user_id, struct(value, event_id))").as("bottom_user"))
      .orderBy("event_type")

  private val q95Sql =
    """WITH ranked AS (
      |  SELECT event_type, user_id,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY value DESC, event_id DESC) AS rmax,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY value ASC, event_id ASC) AS rmin
      |  FROM events),
      |aggs AS (
      |  SELECT event_type,
      |         CAST(count_if(value > 250) AS BIGINT) AS n_big,
      |         bool_and(value >= 0) AS all_nonneg,
      |         bool_or(value > 480) AS any_huge,
      |         ROUND(median(value), 4) AS med
      |  FROM events GROUP BY 1)
      |SELECT a.event_type, a.n_big, a.all_nonneg, a.any_huge, a.med,
      |       mx.user_id AS top_user, mn.user_id AS bottom_user
      |FROM aggs a
      |JOIN (SELECT event_type, user_id FROM ranked WHERE rmax = 1) mx USING (event_type)
      |JOIN (SELECT event_type, user_id FROM ranked WHERE rmin = 1) mn USING (event_type)
      |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q103
  /** Ordered conversion funnel: signup → view → click → purchase,
    * each stage's timestamp required at-or-after the previous stage's
    * FIRST occurrence. Four per-user min-aggregates chained by joins:
    * after the first aggregation every subsequent input is one row per
    * user, so only the first stage shuffles event-sized data — the
    * standard scalable funnel shape (per-user sort-and-scan buys
    * nothing here since only first-occurrence times matter).
    */
  private def q103(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val t1 = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    val t2 = e.filter(col("event_type") === "view").join(t1, "user_id")
      .filter(col("ts") >= col("t1"))
      .groupBy("user_id").agg(min(col("ts")).as("t2"))
    val t3 = e.filter(col("event_type") === "click").join(t2, "user_id")
      .filter(col("ts") >= col("t2"))
      .groupBy("user_id").agg(min(col("ts")).as("t3"))
    val t4 = e.filter(col("event_type") === "purchase").join(t3, "user_id")
      .filter(col("ts") >= col("t3"))
      .groupBy("user_id").agg(min(col("ts")).as("t4"))
    t1.agg(count(lit(1)).as("n_users")).select(lit("1_signup").as("stage"), col("n_users"))
      .unionAll(t2.agg(count(lit(1)).as("n_users")).select(lit("2_view").as("stage"), col("n_users")))
      .unionAll(t3.agg(count(lit(1)).as("n_users")).select(lit("3_click").as("stage"), col("n_users")))
      .unionAll(t4.agg(count(lit(1)).as("n_users")).select(lit("4_purchase").as("stage"), col("n_users")))
      .orderBy("stage")
  }

  private val q103Sql =
    """WITH t1 AS (
      |  SELECT user_id, MIN(ts) AS t1 FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |t2 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
      |  JOIN t1 ON e.user_id = t1.user_id AND e.ts >= t1.t1
      |  WHERE e.event_type = 'view' GROUP BY e.user_id),
      |t3 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
      |  JOIN t2 ON e.user_id = t2.user_id AND e.ts >= t2.t2
      |  WHERE e.event_type = 'click' GROUP BY e.user_id),
      |t4 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t4 FROM events e
      |  JOIN t3 ON e.user_id = t3.user_id AND e.ts >= t3.t3
      |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      |SELECT stage, n_users FROM (
      |  SELECT '1_signup' AS stage, COUNT(*) AS n_users FROM t1
      |  UNION ALL SELECT '2_view', COUNT(*) FROM t2
      |  UNION ALL SELECT '3_click', COUNT(*) FROM t3
      |  UNION ALL SELECT '4_purchase', COUNT(*) FROM t4)
      |ORDER BY stage""".stripMargin

  // --------------------------------------------------------------- q104
  /** Retention cohort matrix: users grouped by first-seen day, counted
    * on each subsequent active day offset. One event-sized aggregation
    * to (user, day), one tiny per-user cohort aggregate joined back on
    * user_id, then a cohort×offset count — the exchange after the
    * first distinct is user-sized, not event-sized.
    */
  private def q104(s: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val cohorts = days.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    days.join(cohorts, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("offset_days"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "offset_days")
  }

  private val q104Sql =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |cohorts AS (
      |  SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id)
      |SELECT c.cohort_day,
      |       CAST(date_diff('day', c.cohort_day, d.day) AS INT) AS offset_days,
      |       COUNT(*) AS n_users
      |FROM days d JOIN cohorts c ON d.user_id = c.user_id
      |GROUP BY 1, 2 ORDER BY cohort_day, offset_days""".stripMargin

  // --------------------------------------------------------------- q106
  /** Grouped outlier detection: per-event-type z-score over `value`,
    * keep |z| ≥ 2.5 — the numeric-quality gate of a data pipeline.
    * Mean/stddev come from ONE Window pass per type (at 100 TB you'd
    * compute the 5-row moment table with a partial agg and broadcast
    * it; the window form keeps it a single operator here and the
    * exchange is the same single shuffle on the type key either way).
    */
  private def q106(s: SparkSession, dir: String): DataFrame = {
    // Per-type mean/stddev as a PARTIAL-AGGREGATED groupBy + broadcast
    // join-back (r16, guide §2.5): the old whole-partition window
    // (`Window.partitionBy(event_type)` with an unbounded frame)
    // shuffled the ENTIRE events table into #event_type partitions —
    // a handful of partitions at any scale, i.e. the canonical
    // window-skew anti-pattern (AQE skew handling does not apply to
    // windows). The agg shuffles a few rows per type per map task;
    // the corpus itself is never re-distributed.
    val e = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val stats = e.groupBy("event_type")
      .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sd"))
      .withColumnRenamed("event_type", "stats_type")
    // NULL-SAFE join key (r17, ADVICE r16): groupBy treats NULL
    // event_type as its own group — exactly like the window/oracle
    // PARTITION BY — but a plain equi-join would silently drop those
    // rows from the join-back. `<=>` keeps NULL-typed rows attached to
    // their group stats; BroadcastHashJoin supports null-safe keys, so
    // the plan shape (partial agg → tiny exchange → broadcast
    // join-back) is unchanged.
    e.join(broadcast(stats), e("event_type") <=> col("stats_type"))
      .drop("stats_type")
      .withColumn("z", (col("value") - col("mu")) / col("sd"))
      .filter(abs(col("z")) >= 2.5)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("z"), 3).as("z"))
      .orderBy("event_id")
  }

  private val q106Sql =
    """SELECT event_id, event_type, value, ROUND(z, 3) AS z FROM (
      |  SELECT event_id, event_type, value,
      |         (value - AVG(value) OVER (PARTITION BY event_type)) /
      |         stddev_samp(value) OVER (PARTITION BY event_type) AS z
      |  FROM events)
      |WHERE ABS(z) >= 2.5 ORDER BY event_id""".stripMargin

  // --------------------------------------------------------------- q107
  /** Explicit GROUPING SETS — the arbitrary-subtotal generalization
    * rollup (q24/q91) and cube (q50) specialize: exactly the listed
    * combinations, disambiguated with `grouping()` markers. Spark
    * expands the sets into one Expand + partial-agg shuffle, same as
    * rollup.
    */
  private def q107(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2)))
          .cast("double").as("total_qty"),
        grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"))
      .orderBy(col("g_flag"), col("g_status"),
        col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  private val q107Sql =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
      |       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
      |       CAST(GROUPING(l_linestatus) AS INT) AS g_status
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
      |ORDER BY g_flag, g_status,
      |         l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  // --------------------------------------------------------------- q110
  /** Statistical aggregates per group: correlation, sample covariance
    * and variance, skewness, kurtosis — the moment surface ibis
    * exposes. All are single-pass partial aggregates (each moment is a
    * sum of powers), so one shuffle on the group key.
    *
    * Cross-engine parity note: corr / covar_samp / var_samp share one
    * definition, but Spark's skewness/kurtosis are the POPULATION
    * (g1, excess g2) statistics while DuckDB's carry sample
    * bias-correction — the oracle converts DuckDB's values back to g1
    * and g2 explicitly rather than pretending the names match.
    */
  private def q110(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"), col("value"),
        unix_timestamp(col("ts")).cast("double").as("epoch_s"),
        hour(col("ts")).cast("double").as("hr"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(corr(col("value"), col("epoch_s")), 6).as("corr_v_t"),
        round(covar_samp(col("value"), col("hr")), 6).as("covar_v_hr"),
        round(var_samp(col("value")), 6).as("var_v"),
        round(skewness(col("value")), 6).as("skew_v"),
        round(kurtosis(col("value")), 6).as("kurt_v"))
      .orderBy("event_type")

  /** Skewness/kurtosis computed from explicit population central
    * moments (g1, excess g2) — Spark's definition — instead of
    * DuckDB's bias-corrected sample statistics of the same name.
    * `FLOOR(epoch(ts))` matches Spark `unix_timestamp`'s whole-second
    * truncation (events carry sub-second precision).
    */
  private val q110Sql =
    """WITH mu AS (
      |  SELECT event_type, AVG(value) AS mu FROM events GROUP BY 1)
      |SELECT e.event_type, COUNT(*) AS n,
      |       ROUND(corr(value, FLOOR(epoch(ts))), 6) AS corr_v_t,
      |       ROUND(covar_samp(value, CAST(hour(ts) AS DOUBLE)), 6) AS covar_v_hr,
      |       ROUND(var_samp(value), 6) AS var_v,
      |       ROUND(AVG(POWER(value - mu, 3))
      |             / POWER(AVG(POWER(value - mu, 2)), 1.5), 6) AS skew_v,
      |       ROUND(AVG(POWER(value - mu, 4))
      |             / POWER(AVG(POWER(value - mu, 2)), 2) - 3.0, 6) AS kurt_v
      |FROM events e JOIN mu USING (event_type)
      |GROUP BY e.event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q115
  /** String aggregation / group_concat: per region, its nations as one
    * ordered comma-joined string. Expressed as sorted `collect_list` +
    * `concat_ws` (order fixed BEFORE joining — a bare listagg is
    * partition-order-nondeterministic in any engine; DuckDB's oracle
    * uses string_agg ORDER BY for the same guarantee). The list is
    * group-bounded (dims), so the agg state stays small; for unbounded
    * groups you'd cap or bucket first.
    */
  private def q115(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(
        concat_ws(",", sort_array(collect_list(col("n_name"))))
          .as("nations"),
        count(lit(1)).cast("int").as("n_nations"))
      .orderBy("r_name")

  private val q115Sql =
    """SELECT r_name,
      |       string_agg(n_name, ',' ORDER BY n_name) AS nations,
      |       CAST(COUNT(*) AS INT) AS n_nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  // --------------------------------------------------------------- q116
  /** Bitwise aggregates: AND/OR/XOR folds over a group — flag-mask
    * rollups (e.g. capability intersection/union over shards). All
    * three are one-pass partial aggregates.
    */
  private def q116(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"), col("event_id"),
        (col("event_id") % 256).as("flags"))
      .groupBy("event_type")
      .agg(bit_and(col("flags")).as("flags_and"),
        bit_or(col("flags")).as("flags_or"),
        bit_xor(col("flags")).as("flags_xor"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  private val q116Sql =
    """SELECT event_type,
      |       bit_and(event_id % 256) AS flags_and,
      |       bit_or(event_id % 256) AS flags_or,
      |       bit_xor(event_id % 256) AS flags_xor,
      |       COUNT(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q117
  /** Deterministic MODE: the most frequent value per group, ties
    * broken toward the smaller value — two partial-agg shuffles
    * ((group, value) counts, then max_by on the (count, -value)
    * composite), never a sort of the table. Engines' built-in `mode`
    * leaves ties unspecified, so BOTH sides spell out the same
    * tie-break instead.
    */
  private def q117(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_quantity").cast("int").as("qty"))
      .groupBy("l_returnflag", "qty")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("l_returnflag")
      .agg(
        max_by(col("qty"), struct(col("cnt"), (-col("qty")).as("nq")))
          .as("mode_qty"),
        max(col("cnt")).as("mode_count"))
      .orderBy("l_returnflag")

  private val q117Sql =
    """WITH c AS (
      |  SELECT l_returnflag, CAST(l_quantity AS INT) AS qty, COUNT(*) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |r AS (
      |  SELECT l_returnflag, qty, cnt,
      |         row_number() OVER (PARTITION BY l_returnflag
      |           ORDER BY cnt DESC, qty ASC) AS rn
      |  FROM c)
      |SELECT l_returnflag, qty AS mode_qty, cnt AS mode_count
      |FROM r WHERE rn = 1 ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- q121
  /** Distinct-count sketches: HLL++ (`approx_count_distinct`) and the
    * mergeable DataSketches HLL (`hll_sketch_agg` → union → estimate).
    * The union path is the 100 TB story: per-partition (here
    * per-linestatus) sketches are a few KB each, union at the
    * coordinator replaces a full distinct shuffle — COUNT(DISTINCT)
    * shuffles every key exactly once, the sketch ships O(sketch) per
    * group instead. Booleans assert each estimate lands within its
    * error contract — 3×rsd (15%) for HLL++, whose rsd=0.05 is a
    * standard deviation, not a bound (one sf0.01 group sits at ~6%),
    * and 5% (~3σ at lgK=12) for the DataSketches estimates.
    * Deterministic on fixed data.
    */
  private def q121(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val direct = li.groupBy("l_returnflag").agg(
      countDistinct(col("l_orderkey")).as("exact_orders"),
      approx_count_distinct(col("l_orderkey")).as("hllpp"),
      expr("hll_sketch_estimate(hll_sketch_agg(l_orderkey, 12))").as("ds_est"))
    val unioned = li
      .groupBy("l_returnflag", "l_linestatus")
      .agg(expr("hll_sketch_agg(l_orderkey, 12)").as("sk"))
      .groupBy("l_returnflag")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("union_est"))
    def ok(est: String, tol: Double): org.apache.spark.sql.Column =
      abs(col(est) - col("exact_orders")) <=
        col("exact_orders").cast("double") * tol
    direct.join(unioned, "l_returnflag")
      .select(col("l_returnflag"), col("exact_orders"),
        ok("hllpp", 0.15).as("hllpp_ok"),
        ok("ds_est", 0.05).as("sketch_ok"),
        ok("union_est", 0.05).as("union_ok"))
      .orderBy("l_returnflag")
  }

  private val q121Sql =
    """SELECT l_returnflag,
      |       COUNT(DISTINCT l_orderkey) AS exact_orders,
      |       TRUE AS hllpp_ok, TRUE AS sketch_ok, TRUE AS union_ok
      |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- q122
  /** Quantile sketch (`approx_percentile`, Greenwald–Khanna, accuracy
    * 1000 ⇒ rank error ≤ n/1000) next to the exact interpolated
    * percentile. At 100 TB the exact percentile needs a full sort per
    * group; the GK summary is a bounded-size mergeable state — this
    * is what q44's doc promised you'd "swap in" at scale, now an
    * operator with its contract hash-checked (booleans: sketch value
    * within 5% of exact; exact columns compared directly).
    */
  private def q122(s: SparkSession, dir: String): DataFrame = {
    def within(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      abs(a - b) <= abs(b) * 0.05
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_extendedprice, 0.5)").as("e50"),
        expr("percentile(l_extendedprice, 0.95)").as("e95"),
        expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 1000)").as("ap"))
      .select(col("l_returnflag"),
        round(col("e50"), 4).as("p50_exact"),
        round(col("e95"), 4).as("p95_exact"),
        within(element_at(col("ap"), 1), col("e50")).as("approx_p50_ok"),
        within(element_at(col("ap"), 2), col("e95")).as("approx_p95_ok"))
      .orderBy("l_returnflag")
  }

  private val q122Sql =
    """SELECT l_returnflag,
      |       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
      |       ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95_exact,
      |       TRUE AS approx_p50_ok, TRUE AS approx_p95_ok
      |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- q127
  /** Heavy-hitter tokens via count-min sketch: the exact top-10 token
    * counts (ground truth both engines compute) next to CMS estimates
    * probed from ONE mergeable sketch. The aggregate builds a partial
    * sketch per partition and merges map-side — at 100 TB the
    * exchange carries fixed-size sketch bytes per partition instead
    * of a row per distinct token — and the estimates obey two
    * deterministic contracts (seeded sketch): CMS never
    * underestimates, and overestimates by at most ε·N with the
    * sketch's confidence (ε=0.0001 ⇒ slack ≈ N/10000; the planted
    * corpus has ~50k token instances at sf0.01, so slack ≈ 6 — tight
    * enough that a broken merge or probe flips the boolean). Oracle:
    * exact top tokens plus the CMS error contracts as hash-checked
    * booleans (the q121/q122 pattern).
    */
  private def q127(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    val toks = Tables.documents(s, dir)
      .select(explode(T.tokens(col("text"))).as("tok"))
    val sketch = toks
      .agg(expr("count_min_sketch(tok, 0.0001d, 0.99d, 42)").as("sk"),
        count(lit(1)).as("n_toks"))
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(10)
    val est = GraftSqlBridge.column(CmsEstimate(
      GraftSqlBridge.expression(col("sk")),
      GraftSqlBridge.expression(col("tok"))))
    exact.crossJoin(broadcast(sketch))
      .select(col("tok"), col("n"), est.as("est"), col("n_toks"))
      .select(col("tok"), col("n"),
        (col("est") >= col("n")).as("no_underestimate"),
        (col("est") <= col("n") +
          ceil(col("n_toks") * 0.0001).cast("long")).as("within_eps"))
      .orderBy(col("n").desc, col("tok"))
  }

  private val q127Sql =
    """WITH toks AS (
      |  SELECT unnest(string_split(
      |           regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
      |           ' ')) AS tok
      |  FROM documents)
      |SELECT tok, COUNT(*) AS n,
      |       TRUE AS no_underestimate, TRUE AS within_eps
      |FROM toks GROUP BY tok
      |ORDER BY n DESC, tok LIMIT 10""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q44_percentiles", q44, Some(q44Sql)),
    Query("q48_pivot", q48, Some(q48Sql)),
    Query("q50_cube", q50, Some(q50Sql)),
    Query("q58_skew_agg", q58, Some(q58Sql)),
    Query("q86_profile", q86, Some(q86Sql)),
    Query("q89_unpivot", q89, Some(q89Sql)),
    Query("q91_rollup_grouping", q91, Some(q91Sql)),
    Query("q95_agg_extras", q95, Some(q95Sql)),
    Query("q103_funnel", q103, Some(q103Sql)),
    Query("q104_retention", q104, Some(q104Sql)),
    Query("q106_outlier_zscore", q106, Some(q106Sql)),
    Query("q107_grouping_sets", q107, Some(q107Sql)),
    Query("q110_stats_agg", q110, Some(q110Sql)),
    Query("q115_string_agg", q115, Some(q115Sql)),
    Query("q116_bit_agg", q116, Some(q116Sql)),
    Query("q117_mode", q117, Some(q117Sql)),
    Query("q121_sketch_distinct", q121, Some(q121Sql)),
    Query("q122_sketch_quantiles", q122, Some(q122Sql)),
    Query("q127_heavy_hitters", q127, Some(q127Sql)))
}
