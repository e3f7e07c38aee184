package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Relational/dataframe operator surface (SURVEY.md §2, q01–q27), plus
  * the set operations (q55 INTERSECT/EXCEPT, q88 union-by-name, q101
  * UNION distinct), LIMIT/OFFSET pagination (q100) and the SQL facade's
  * correlated subqueries (q90).
  *
  * Capability-equivalent to the ibis dataframe API the reference
  * exercises (reference: `/root/reference/window_aggregation.py`),
  * re-expressed as declarative Spark so Catalyst keeps pushdown /
  * pruning / join-strategy freedom.
  *
  * Cross-engine float determinism: DuckDB (the oracle) and Spark sum
  * doubles in different orders, so raw double SUMs differ in the last
  * ULP. Every money/value SUM therefore casts per-row to
  * DECIMAL(18,s) first (exact integer arithmetic, identical in both
  * engines) and casts the exact total back to DOUBLE. Per-row products
  * are IEEE-deterministic and bit-identical across engines, so scaling
  * to s=4 before the decimal cast keeps products exact too.
  */
object Relational {

  /** SUM(col) with exact cross-engine semantics (see class doc). */
  private[queries] def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)

  private def dsumOver(c: Column, w: WindowSpec, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).over(w).cast(DoubleType)

  /** SQL fragment mirroring [[dsum]] for the DuckDB oracle. */
  private def sqlDsum(x: String, scale: Int = 2): String =
    s"CAST(SUM(CAST($x AS DECIMAL(18,$scale))) AS DOUBLE)"

  // ---------------------------------------------------------------- q01
  private def q01(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy("l_orderkey", "l_linenumber")

  private val q01Sql =
    """SELECT l_orderkey, l_linenumber,
      |       l_extendedprice * (1.0 - l_discount) AS revenue
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q02
  private def q02(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
              col("l_quantity") < 25)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
      .orderBy("l_orderkey", "l_linenumber")

  private val q02Sql =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_quantity < 25
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q03
  private def q03(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).agg(
      count(lit(1)).as("n_rows"),
      dsum(col("l_quantity")).as("sum_qty"),
      (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
      min(col("l_discount")).as("min_disc"),
      max(col("l_tax")).as("max_tax"))

  private val q03Sql =
    s"""SELECT COUNT(*) AS n_rows,
       |       ${sqlDsum("l_quantity")} AS sum_qty,
       |       ${sqlDsum("l_extendedprice")} / COUNT(*) AS avg_price,
       |       MIN(l_discount) AS min_disc,
       |       MAX(l_tax) AS max_tax
       |FROM lineitem""".stripMargin

  // ---------------------------------------------------------------- q04
  /** TPC-H Q1 analog: the canonical grouped multi-aggregate. */
  private def q04(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val discPrice = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val charge    = discPrice * (lit(1.0) + col("l_tax"))
    li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base"),
        dsum(discPrice, 4).as("sum_disc_price"),
        // prices/discounts/taxes are 2-decimal, so disc-price is exactly
        // 4-decimal and charge exactly 6-decimal: casting at the exact
        // scale means NO rounding on either engine (a coarser scale
        // would hit .5-boundary ties where Java HALF_UP and DuckDB's
        // binary-value rounding disagree).
        dsum(charge, 6).as("sum_charge"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("n_items"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val q04Sql = {
    val disc   = "l_extendedprice * (1.0 - l_discount)"
    val charge = s"$disc * (1.0 + l_tax)"
    s"""SELECT l_returnflag, l_linestatus,
       |       ${sqlDsum("l_quantity")} AS sum_qty,
       |       ${sqlDsum("l_extendedprice")} AS sum_base,
       |       ${sqlDsum(disc, 4)} AS sum_disc_price,
       |       ${sqlDsum(charge, 6)} AS sum_charge,
       |       ${sqlDsum("l_quantity")} / COUNT(*) AS avg_qty,
       |       ${sqlDsum("l_extendedprice")} / COUNT(*) AS avg_price,
       |       COUNT(*) AS n_items
       |FROM lineitem GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin
  }

  // ---------------------------------------------------------------- q05
  private def q05(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_suppkey")
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_items"))
      .filter(col("sum_qty") > 300)
      .orderBy("l_suppkey")

  private val q05Sql =
    s"""SELECT l_suppkey, ${sqlDsum("l_quantity")} AS sum_qty, COUNT(*) AS n_items
       |FROM lineitem GROUP BY l_suppkey
       |HAVING ${sqlDsum("l_quantity")} > 300
       |ORDER BY l_suppkey""".stripMargin

  // ---------------------------------------------------------------- q06
  private def q06(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select("l_returnflag", "l_linestatus").distinct()
      .orderBy("l_returnflag", "l_linestatus")

  private val q06Sql =
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q07
  private def q07(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  private val q07Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q08
  /** Inner join with an explicitly broadcast dimension side: at 100 TB
    * `customer` stays small relative to `orders`, so this is a
    * map-side join with zero shuffle of the fact table.
    */
  private def q08(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select("o_custkey", "o_totalprice")
    val c = Tables.customer(s, dir).select("c_custkey", "c_name")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
      .orderBy("c_custkey")
  }

  private val q08Sql =
    s"""SELECT c_custkey, c_name, COUNT(*) AS n_orders,
       |       ${sqlDsum("o_totalprice")} AS total
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q09
  /** Flagship batch query (`SparkEntry.entry`): revenue per region and
    * nation — a 5-way star join. Dims (`nation`, `region`) broadcast;
    * the `orders ⋈ lineitem` fact-fact join shuffles once on orderkey.
    */
  private def q09(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
        .as("revenue"))
      .orderBy("r_name", "n_name")
  }

  private val q09Sql =
    s"""SELECT r_name, n_name,
       |       ${sqlDsum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation   ON c_nationkey = n_nationkey
       |JOIN region   ON n_regionkey = r_regionkey
       |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // ---------------------------------------------------------------- q10
  private def q10(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select("c_custkey")
    val o = Tables.orders(s, dir).select("o_custkey", "o_orderkey", "o_totalprice")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total"))
      .orderBy("c_custkey")
  }

  private val q10Sql =
    s"""SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
       |       COALESCE(${sqlDsum("o_totalprice")}, 0.0) AS total
       |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
       |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q11
  private def q11(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select("c_custkey", "c_name")
    val bigOrders = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 150000).select("o_custkey")
    c.join(bigOrders, c("c_custkey") === bigOrders("o_custkey"), "left_semi")
      .orderBy("c_custkey")
  }

  private val q11Sql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 150000)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q12
  private def q12(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select("c_custkey", "c_name")
    val bigOrders = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 150000).select("o_custkey")
    c.join(bigOrders, c("c_custkey") === bigOrders("o_custkey"), "left_anti")
      .orderBy("c_custkey")
  }

  private val q12Sql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 150000)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q13
  private def q13(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val hi = o.filter(col("o_totalprice") > 250000)
      .select(col("o_orderkey"), lit("high").as("bucket"), col("o_totalprice"))
    val lo = o.filter(col("o_totalprice") < 30000)
      .select(col("o_orderkey"), lit("low").as("bucket"), col("o_totalprice"))
    hi.unionAll(lo).orderBy("o_orderkey", "bucket")
  }

  private val q13Sql =
    """SELECT o_orderkey, 'high' AS bucket, o_totalprice FROM orders
      |WHERE o_totalprice > 250000
      |UNION ALL
      |SELECT o_orderkey, 'low' AS bucket, o_totalprice FROM orders
      |WHERE o_totalprice < 30000
      |ORDER BY o_orderkey, bucket""".stripMargin

  // ---------------------------------------------------------------- q14
  private def q14(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .agg(
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
        sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_o"),
        sum(when(col("o_orderstatus") === "P", 1).otherwise(0)).as("n_p"),
        dsum(when(col("o_totalprice") > 100000, col("o_totalprice"))
          .otherwise(lit(0.0))).as("big_total"))
      .orderBy("o_orderpriority")

  private val q14Sql =
    s"""SELECT o_orderpriority,
       |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
       |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
       |  ${sqlDsum("CASE WHEN o_totalprice > 100000 THEN o_totalprice ELSE 0.0 END")} AS big_total
       |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q15
  private def q15(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderstatus").isin("F", "O") &&
              col("o_totalprice").between(100000, 150000))
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")

  private val q15Sql =
    """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |WHERE o_orderstatus IN ('F','O')
      |  AND o_totalprice BETWEEN 100000 AND 150000
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q16
  private def q16(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .filter(col("p_name").like("%a%"))
      .select(
        col("p_partkey"),
        lower(col("p_name")).as("lname"),
        upper(col("p_brand")).as("ubrand"),
        substring(col("p_type"), 1, 5).as("t5"),
        concat_ws("#", col("p_brand"), col("p_type")).as("bt"),
        length(col("p_name")).as("name_len"))
      .orderBy("p_partkey")

  private val q16Sql =
    """SELECT p_partkey, LOWER(p_name) AS lname, UPPER(p_brand) AS ubrand,
      |       SUBSTR(p_type, 1, 5) AS t5,
      |       p_brand || '#' || p_type AS bt,
      |       CAST(LENGTH(p_name) AS INT) AS name_len
      |FROM part WHERE p_name LIKE '%a%' ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q17
  private def q17(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("yr", "mo")

  private val q17Sql =
    s"""SELECT CAST(YEAR(o_orderdate) AS INT) AS yr,
       |       CAST(MONTH(o_orderdate) AS INT) AS mo,
       |       COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total
       |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin

  // ---------------------------------------------------------------- q18
  /** Null handling (nullif/coalesce/fill) + JSON field extraction from
    * the `props` JSON-string column (the reference's source format is
    * JSON — `window_aggregation.py:46`).
    */
  private def q18(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(
        col("event_id"),
        when(col("value") < 50, lit(null)).otherwise(col("value")).as("v_masked"),
        coalesce(when(col("value") < 50, lit(null)).otherwise(col("value")),
          lit(-1.0)).as("v_filled"),
        nullif(col("event_type"), lit("error")).as("et_null"),
        coalesce(nullif(col("event_type"), lit("error")), lit("unknown"))
          .as("et_filled"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy("event_id")

  private val q18Sql =
    """SELECT event_id,
      |       CASE WHEN value < 50 THEN NULL ELSE value END AS v_masked,
      |       COALESCE(CASE WHEN value < 50 THEN NULL ELSE value END, -1.0) AS v_filled,
      |       NULLIF(event_type, 'error') AS et_null,
      |       COALESCE(NULLIF(event_type, 'error'), 'unknown') AS et_filled,
      |       CAST(json_extract_string(props, '$.k') AS INT) AS k
      |FROM events ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q19
  private def q19(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, dir)
      .select(
        col("o_orderkey"), col("o_custkey"),
        row_number().over(w).as("rn"),
        dsumOver(col("o_totalprice"),
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("running_total"))
      .orderBy("o_orderkey")
  }

  private val q19Sql =
    """SELECT o_orderkey, o_custkey,
      |  CAST(ROW_NUMBER() OVER w AS INT) AS rn,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
      |       (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS running_total
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q20
  /** THE reference flagship (window_aggregation.py:75-82): per event,
    * sum of `value` over the trailing 10-second event-time window of
    * the same key. Spark's RANGE frame needs a numeric order key →
    * order by epoch micros with a [-10 000 000, 0] frame, which is
    * exactly `RANGE BETWEEN INTERVAL 10 SECONDS PRECEDING AND CURRENT
    * ROW` over µs-precision timestamps.
    */
  private def q20(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-10000000L, 0L)
    Tables.events(s, dir)
      .select(
        col("event_id"), col("user_id").as("province_id"), col("ts"),
        dsumOver(col("value"), w).as("pay_amount"))
      .orderBy("event_id")
  }

  private val q20Sql =
    """SELECT event_id, user_id AS province_id, ts,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER
      |       (PARTITION BY user_id ORDER BY ts
      |        RANGE BETWEEN INTERVAL 10 SECONDS PRECEDING AND CURRENT ROW)
      |       AS DOUBLE) AS pay_amount
      |FROM events ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q21
  private def q21(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, dir)
      .select(
        col("o_orderkey"), col("o_custkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"))
      .orderBy("o_orderkey")
  }

  private val q21Sql =
    """SELECT o_orderkey, o_custkey,
      |       LAG(o_totalprice, 1) OVER w AS prev_price,
      |       LEAD(o_totalprice, 1) OVER w AS next_price,
      |       CAST(RANK() OVER w AS INT) AS rnk,
      |       CAST(DENSE_RANK() OVER w AS INT) AS drnk
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q22
  private def q22(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  private val q22Sql =
    """SELECT l_returnflag,
      |       COUNT(DISTINCT l_partkey) AS n_parts,
      |       COUNT(DISTINCT l_suppkey) AS n_supps,
      |       COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q23
  private def q23(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("event_type"))

  private val q23Sql =
    """SELECT event_type, COUNT(*) AS n FROM events
      |GROUP BY event_type ORDER BY n DESC, event_type""".stripMargin

  // ---------------------------------------------------------------- q24
  private def q24(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  private val q24Sql =
    s"""SELECT l_returnflag, l_linestatus,
       |       ${sqlDsum("l_quantity")} AS sum_qty, COUNT(*) AS n
       |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
       |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q25
  /** Scalar-subquery predicate. The scalar aggregate is computed with
    * the same exact-decimal trick and broadcast-cross-joined (1 row),
    * so the fact scan streams map-side only.
    */
  private def q25(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val avgPrice = o.agg(
      (dsum(col("o_totalprice")) / count(lit(1))).as("avg_price"))
    o.select("o_orderkey", "o_totalprice")
      .crossJoin(broadcast(avgPrice))
      .filter(col("o_totalprice") > col("avg_price"))
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  private val q25Sql =
    s"""SELECT o_orderkey, o_totalprice FROM orders
       |WHERE o_totalprice > (SELECT ${sqlDsum("o_totalprice")} / COUNT(*) FROM orders)
       |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q26
  /** Sessionization: a new session starts after a >30 min silence for
    * the user. Two layered windows — lag to flag boundaries, running
    * sum to number sessions — both over the same (key, time) ordering,
    * so Spark evaluates them in one Window exec with one shuffle.
    */
  private def q26(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapMicros = 30L * 60 * 1000000
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        when(unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
               > gapMicros, 1)
          .otherwise(when(lag(col("ts"), 1).over(w).isNull, 1).otherwise(0))
          .as("is_new"))
      .select(col("event_id"), col("user_id"),
        sum(col("is_new")).over(
          Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("bigint").as("session_id"))
      .orderBy("event_id")
  }

  private val q26Sql =
    """SELECT event_id, user_id,
      |  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS session_id
      |FROM (
      |  SELECT event_id, user_id, ts,
      |    CASE WHEN LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              IS NULL THEN 1
      |         WHEN ts - LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              > INTERVAL 30 MINUTES THEN 1
      |         ELSE 0 END AS is_new
      |  FROM events)
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q27
  /** Tumbling event-time window aggregation (batch form). Uses Spark's
    * `window()` operator (the Structured Streaming group-window
    * primitive); hour windows are epoch-aligned so `window.start` ≡
    * `date_trunc('hour', ts)` in the oracle.
    */
  private def q27(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .select(col("win.start").as("win_start"), col("event_type"),
        col("n"), col("total"))
      .orderBy("win_start", "event_type")

  private val q27Sql =
    s"""SELECT date_trunc('hour', ts) AS win_start, event_type,
       |       COUNT(*) AS n, ${sqlDsum("value")} AS total
       |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin

  // ------------------------------------------------------------ assembly
  // ---------------------------------------------------------------- q55
  /** Set operations: customers ordering in both 1995 and 1996
    * (INTERSECT) vs only in 1995 (EXCEPT), tagged and unioned. Both
    * ops are distinct-semantics in Spark and ANSI SQL alike.
    */
  private def q55(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    def inYear(y: Int) =
      o.filter(year(col("o_orderdate")) === y).select("o_custkey")
    val both = inYear(1995).intersect(inYear(1996))
      .select(lit("both").as("tag"), col("o_custkey"))
    val only95 = inYear(1995).except(inYear(1996))
      .select(lit("only_1995").as("tag"), col("o_custkey"))
    both.unionAll(only95).orderBy("tag", "o_custkey")
  }

  private val q55Sql =
    """SELECT 'both' AS tag, o_custkey FROM (
      |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
      |  INTERSECT
      |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
      |UNION ALL
      |SELECT 'only_1995' AS tag, o_custkey FROM (
      |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
      |  EXCEPT
      |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
      |ORDER BY tag, o_custkey""".stripMargin

  // ---------------------------------------------------------------- q88
  /** Schema-evolution union: merge two "shards" whose schemas drifted
    * (the older extract lacks a column) via `unionByName(
    * allowMissingColumns = true)` — name-based alignment with
    * null-fill, the everyday shard-merging op `UNION ALL`'s
    * positional semantics can't express. Row-local; the aggregate
    * after it is one partial-agg shuffle.
    */
  private def q88(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val old = orders.filter(year(col("o_orderdate")) <= 1997)
      .select(col("o_orderkey"), col("o_totalprice")) // pre-migration schema
    val neu = orders.filter(year(col("o_orderdate")) >= 1998)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    old.unionByName(neu, allowMissingColumns = true)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total"))
      .orderBy(col("o_orderpriority").asc_nulls_first)
  }

  private val q88Sql =
    """WITH u AS (
      |  SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
      |  FROM orders WHERE year(o_orderdate) <= 1997
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice, o_orderpriority
      |  FROM orders WHERE year(o_orderdate) >= 1998)
      |SELECT o_orderpriority, COUNT(*) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM u GROUP BY o_orderpriority
      |ORDER BY o_orderpriority NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q90
  /** The SQL facade: the engine's tables registered as views and a
    * correlated EXISTS + correlated scalar subquery run through
    * `spark.sql` — the declarative entry point (the reference drives
    * its engine through SQL-generating ibis). Catalyst decorrelates
    * both subqueries into joins (aggregate-then-join for the scalar,
    * semi-join for EXISTS) — no per-row re-execution at any scale.
    */
  private def q90(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer_v")
    Tables.orders(s, dir).createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT c.c_custkey, c.c_name,
        |       CAST((SELECT COUNT(*) FROM orders_v o
        |             WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS n_orders
        |FROM customer_v c
        |WHERE EXISTS (SELECT 1 FROM orders_v o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 300000)
        |ORDER BY c.c_custkey""".stripMargin)
  }

  private val q90Sql =
    """SELECT c.c_custkey, c.c_name,
      |       (SELECT COUNT(*) FROM orders o
      |        WHERE o.o_custkey = c.c_custkey) AS n_orders
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_totalprice > 300000)
      |ORDER BY c.c_custkey""".stripMargin

  // --------------------------------------------------------------- q100
  /** Pagination (ibis `.limit(n, offset=m)`): a fully deterministic
    * multi-key sort (computed NULL column exercises NULLS FIRST, key
    * tiebreak makes page boundaries stable) → OFFSET 100 → LIMIT 50.
    * At scale a global sort is one range-partitioned shuffle; OFFSET
    * only materializes the first offset+limit rows per partition
    * (TakeOrderedAndProject), not the table.
    */
  private def q100(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"),
        nullif(col("o_orderpriority"), lit("3-MEDIUM")).as("prio_or_null"),
        col("o_totalprice"))
      .orderBy(col("prio_or_null").asc_nulls_first,
        col("o_totalprice").desc, col("o_orderkey").asc)
      .offset(100)
      .limit(50)

  private val q100Sql =
    """SELECT o_orderkey,
      |       NULLIF(o_orderpriority, '3-MEDIUM') AS prio_or_null,
      |       o_totalprice
      |FROM orders
      |ORDER BY prio_or_null ASC NULLS FIRST, o_totalprice DESC, o_orderkey ASC
      |LIMIT 50 OFFSET 100""".stripMargin

  // --------------------------------------------------------------- q101
  /** UNION with distinct semantics (q13 covers UNION ALL; q55 covers
    * INTERSECT/EXCEPT): two overlapping customer selections merged
    * without duplicates. Spark plans union + distinct as one
    * partial-aggregated shuffle on the full row — the same shape as a
    * GROUP BY ALL COLUMNS, so it scales like any aggregation.
    */
  private def q101(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val big = c.filter(col("c_acctbal") > 7500)
      .select(col("c_custkey"), col("c_nationkey"))
    val inNation = c.filter(col("c_nationkey") < 5)
      .select(col("c_custkey"), col("c_nationkey"))
    big.union(inNation).distinct().orderBy("c_custkey")
  }

  private val q101Sql =
    """SELECT c_custkey, c_nationkey FROM customer WHERE c_acctbal > 7500
      |UNION
      |SELECT c_custkey, c_nationkey FROM customer WHERE c_nationkey < 5
      |ORDER BY c_custkey""".stripMargin

  /** Flagship for `SparkEntry.entry`. */
  def flagship(s: SparkSession, dir: String): DataFrame = q09(s, dir)

  val queries: Seq[Query] = Seq(
    Query("q01_project", q01, Some(q01Sql)),
    Query("q02_filter", q02, Some(q02Sql)),
    Query("q03_agg_global", q03, Some(q03Sql)),
    Query("q04_agg_group", q04, Some(q04Sql)),
    Query("q05_having", q05, Some(q05Sql)),
    Query("q06_distinct", q06, Some(q06Sql)),
    Query("q07_topk", q07, Some(q07Sql)),
    Query("q08_join_broadcast", q08, Some(q08Sql)),
    Query("q09_join_multi", q09, Some(q09Sql)),
    Query("q10_join_left", q10, Some(q10Sql)),
    Query("q11_join_semi", q11, Some(q11Sql)),
    Query("q12_join_anti", q12, Some(q12Sql)),
    Query("q13_union", q13, Some(q13Sql)),
    Query("q14_case_when", q14, Some(q14Sql)),
    Query("q15_in_between", q15, Some(q15Sql)),
    Query("q16_string_funcs", q16, Some(q16Sql)),
    Query("q17_date_funcs", q17, Some(q17Sql)),
    Query("q18_null_funcs", q18, Some(q18Sql)),
    Query("q19_window_rows", q19, Some(q19Sql)),
    Query("q20_window_range", q20, Some(q20Sql)),
    Query("q21_lag_lead", q21, Some(q21Sql)),
    Query("q22_count_distinct", q22, Some(q22Sql)),
    Query("q23_value_counts", q23, Some(q23Sql)),
    Query("q24_rollup", q24, Some(q24Sql)),
    Query("q25_scalar_subquery", q25, Some(q25Sql)),
    Query("q26_sessionize", q26, Some(q26Sql)),
    Query("q27_tumble_batch", q27, Some(q27Sql)),
    Query("q55_set_ops", q55, Some(q55Sql)),
    Query("q88_union_by_name", q88, Some(q88Sql)),
    Query("q90_sql_correlated", q90, Some(q90Sql)),
    Query("q100_pagination", q100, Some(q100Sql)),
    Query("q101_union_distinct", q101, Some(q101Sql)))
}
