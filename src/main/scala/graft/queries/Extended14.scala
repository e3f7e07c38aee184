package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Thirteenth extension batch (SURVEY.md §2 q102–q107): dedup cluster
  * assignment (connected components over the near-dup pair graph),
  * funnel + retention cohort analytics, struct-typed columns, grouped
  * outlier detection, and explicit GROUPING SETS.
  */
object Extended14 {

  // --------------------------------------------------------------- q102
  /** Dedup CLUSTER assignment: near-dup PAIRS (q35's verified
    * MinHash-LSH output) promoted to per-doc cluster ids — the step a
    * real dedup pipeline needs before it can keep one canonical doc
    * per group (pairs alone can't answer "which docs are mutual
    * near-dups via a chain A~B~C").
    *
    * Algorithm: min-label propagation to a fixpoint — every node
    * starts as its own label; each round, a node takes the min of its
    * own and its neighbors' labels; converges in O(component diameter)
    * rounds. Near-dup components are short chains (diameter ≤ a few),
    * so rounds stay in low single digits; each round is ONE shuffle of
    * (id, label) rows sized by the edge list — never the corpus, never
    * feature arrays. Per-round `localCheckpoint` cuts the lineage so
    * round k+1 re-reads round k's materialized labels, not the whole
    * history (the same iterative-convergence shape GraphX's connected
    * components uses). If the diameter exceeds the round cap the
    * labeling escalates automatically to large-star/small-star
    * (O(log n) rounds regardless of diameter — see
    * [[ConnectedComponents]]), so chain-heavy graphs degrade in
    * round count, never in correctness.
    *
    * Output: one row per doc that appears in any near-dup pair, its
    * cluster id (= min doc_id reachable), the cluster size, and the
    * canonical-keeper flag. Oracle: DuckDB recursive-CTE transitive
    * closure over the same brute-force pair set q35's oracle uses.
    */
  /** Converged (doc_id → min-reachable-label) table for the near-dup
    * pair graph. Memoized per scale dir like the pair set itself: the
    * label table is the second materialized intermediate of a dedup
    * pipeline (pairs → labels → apply), consumed by q102 (report),
    * q111 (apply) and q112 (summary).
    */
  private val labelCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  private[queries] def clusterLabels(s0: SparkSession, dir: String): DataFrame =
    labelCache.getOrElseUpdate(dir, {
      // the pair pipeline and the label loop are attributed separately
      // in the bench's stage dump (the r7 residue question was "which
      // half of q102 is the fixed cost")
      // NO second materialization: nearDupPairs IS already an eager
      // pair-level checkpoint (minhash_final), so narrowing to (a, b)
      // stays a lazy projection over that leaf — a checkpointed copy
      // here doubled the pair table's scratch footprint for nothing
      // (at ×512 the duplicate was ~a quarter of the q102 path's disk
      // peak). The timed block attributes the pair build on a cold
      // cache and costs nothing on a warm one.
      val pairs = graft.RoundStats.timed("q102_pairs") {
        DedupQueries.nearDupPairs(s0, dir)
      }.select(col("a"), col("b"))
      // The label loop iterates over the verified PAIR set — orders of
      // magnitude smaller than the corpus (it is the near-dup rate).
      // Its per-round shuffles would otherwise inherit the corpus-sized
      // partition count and pay ~rounds × partitions of task overhead
      // for KB of data. Sized to the measured pair VOLUME (the count is
      // a leaf scan of the checkpoint): ~4 M edge rows per partition,
      // floor 4 (the r6 gate-scale win — tiny loops are fixed-cost
      // dominated). The floor was hardcoded until ×512 put 1.3 B
      // symmetric edge rows through a 4-task loop — correct and
      // spill-safe, but serializing 8× the cores' worth of work; at
      // 100 TB the same pin would idle a whole cluster. CAP at
      // parallelism/4, not parallelism: a loop reduce task is
      // memory-heavy (two shuffled join sides sorted + aggregated,
      // spill-merge and codec buffers untracked by the memory
      // manager), and one such task per core in a SHARED heap is an
      // allocation-rate OOM — measured at ×256, where the 32-way loop
      // died in GCLocker thrash while 4-way had passed. One heavy
      // task per ~4 cores matches the per-executor heap share a real
      // cluster gives (4-5 cores/executor); local[32]'s
      // 32-threads-one-heap shape is the outlier the cap protects.
      // (`pairs` is already materialized, so this conf change on the
      // dedup child session can't affect the blocking/verify stages
      // above.)
      // Loop width also multiplies CONCURRENT spill volume (each
      // round holds ~width × two sorted join sides of shuffle files):
      // measured at ×512 on a ~61 GB-scratch box, width 4 fits
      // (1579 s green) and width 8 runs out of device mid-loop.
      val s2 = pairs.sparkSession
      val cap = math.max(4L, s2.sparkContext.defaultParallelism / 4L)
      // pair volume observed on the pair checkpoint's own job
      // (DedupQueries.nearDupPairCount) — no per-invocation count
      // action (VERDICT r10 #4)
      val loopParts = math.max(4L, math.min(cap,
        2L * DedupQueries.nearDupPairCount(s0, dir) / 4000000L)).toString
      s2.conf.set("spark.sql.shuffle.partitions", loopParts)
      // Min-label with automatic escalation to large-star/small-star
      // if the graph's diameter exceeds the round cap (r6: the cap
      // used to return silently-partial labels on a long chain; now
      // it degrades to the O(log n) algorithm instead — see
      // ConnectedComponents).
      ConnectedComponents.labelsFor(pairs)
    })

  private def q102(s0: SparkSession, dir: String): DataFrame =
    clusterLabels(s0, dir)
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .withColumn("is_keeper", col("doc_id") === col("cluster_id"))
      .orderBy("doc_id")

  private val q102Sql =
    s"""WITH RECURSIVE pairs AS (
       |${DedupQueries.gramJaccardPairsSql(2, 0.5)}
       |),
       |edges AS (
       |  SELECT a AS id, b AS nb FROM pairs
       |  UNION ALL
       |  SELECT b AS id, a AS nb FROM pairs),
       |walk(id, lbl) AS (
       |  SELECT DISTINCT id, id FROM edges
       |  UNION
       |  SELECT e.id, w.lbl FROM edges e JOIN walk w ON w.id = e.nb),
       |comp AS (SELECT id, MIN(lbl) AS cluster_id FROM walk GROUP BY id)
       |SELECT id AS doc_id, cluster_id,
       |       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |       id = cluster_id AS is_keeper
       |FROM comp ORDER BY doc_id""".stripMargin

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

  // --------------------------------------------------------------- q105
  /** Struct-typed columns as a user operator: per customer, the top-3
    * orders by price carried as an array of (price, key) STRUCTS —
    * built with `struct`, ordered by `array_sort`'s field-order struct
    * comparison, field-extracted with a lambda. The struct array stays
    * bounded (3 per group) and ships as JSON (array-typed result
    * columns crash the driver's comparator; same rule as q49).
    */
  private def q105(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(
        slice(reverse(array_sort(collect_list(
          struct(col("o_totalprice"), col("o_orderkey"))))), 1, 3).as("top"),
        count(lit(1)).cast("int").as("n_orders"))
      .select(
        col("o_custkey"),
        to_json(transform(col("top"), x => x.getField("o_orderkey")))
          .as("top3_keys"),
        round(element_at(col("top"), 1).getField("o_totalprice"), 2)
          .as("best_price"),
        col("n_orders"))
      .orderBy("o_custkey")

  private val q105Sql =
    """WITH r AS (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey
      |           ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn,
      |         COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders
      |  FROM orders)
      |SELECT o_custkey,
      |       CAST(to_json(list(o_orderkey ORDER BY rn)) AS VARCHAR) AS top3_keys,
      |       ROUND(MAX(CASE WHEN rn = 1 THEN o_totalprice END), 2) AS best_price,
      |       CAST(MAX(n_orders) AS INT) AS n_orders
      |FROM r WHERE rn <= 3
      |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

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

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q102_dedup_cluster" -> (q102 _),
    "q103_funnel"        -> (q103 _),
    "q104_retention"     -> (q104 _),
    "q105_struct_topn"   -> (q105 _),
    "q106_outlier_zscore" -> (q106 _),
    "q107_grouping_sets" -> (q107 _))

  val oracles: Map[String, String] = Map(
    "q102_dedup_cluster" -> q102Sql,
    "q103_funnel"        -> q103Sql,
    "q104_retention"     -> q104Sql,
    "q105_struct_topn"   -> q105Sql,
    "q106_outlier_zscore" -> q106Sql,
    "q107_grouping_sets" -> q107Sql)
}
