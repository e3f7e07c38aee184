package graft

import graft.plans.AsofJoin
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** The custom physical as-of join (logical node → strategy →
  * merge-scan SparkPlan). The oracle proves cross-engine equality on
  * real data; this spec pins the edge semantics and the plan shape.
  */
class AsofJoinSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000)

  test("edge semantics: no-match nulls, inclusive same-instant, latest wins") {
    val trades = Seq(
      (1L, 10L, ts(100)), // before any quote for key 10 → null
      (2L, 10L, ts(200)), // exactly at quote ts(200) → inclusive match
      (3L, 10L, ts(350)), // after quotes 200,300 → latest (300)
      (4L, 99L, ts(500))  // key with no quotes at all → null
    ).toDF("trade_id", "sym", "t")
    val quotes = Seq(
      (10L, ts(200), 1.0),
      (10L, ts(300), 2.0),
      (77L, ts(100), 9.0) // key never probed
    ).toDF("sym", "qt", "px")

    val out = AsofJoin.asof(trades, quotes, "sym", "t", "qt")
      .orderBy("trade_id")
      .select($"trade_id", $"qt", $"px")
      .collect()

    assert(out(0).isNullAt(1) && out(0).isNullAt(2))
    assert(out(1).getTimestamp(1) == ts(200) && out(1).getDouble(2) == 1.0)
    assert(out(2).getTimestamp(1) == ts(300) && out(2).getDouble(2) == 2.0)
    assert(out(3).isNullAt(1) && out(3).isNullAt(2))
  }

  test("tolerance: stale matches null-pad, fresh matches survive") {
    val trades = Seq(
      (1L, 10L, ts(100)), // no quote at-or-before → null either way
      (2L, 10L, ts(250)), // latest quote 200, 50 s old → inside 100 s
      (3L, 10L, ts(400))  // latest quote 200, 200 s old → OUTSIDE
    ).toDF("trade_id", "sym", "t")
    val quotes = Seq((10L, ts(200), 1.0)).toDF("sym", "qt", "px")
    val out = AsofJoin.asof(trades, quotes, "sym", "t", "qt",
        toleranceUs = Some(100L * 1000000))
      .orderBy("trade_id").select($"trade_id", $"px").collect()
    assert(out(0).isNullAt(1))
    assert(out(1).getDouble(1) === 1.0)
    assert(out(2).isNullAt(1), "stale match must null-pad under tolerance")
    // without tolerance the stale match survives — the cutoff is the
    // only difference
    val noTol = AsofJoin.asof(trades, quotes, "sym", "t", "qt")
      .orderBy("trade_id").select($"px").collect()
    assert(noTol(2).getDouble(0) === 1.0)
  }

  test("q128 tolerance operator ≡ q124 with a post-cutoff on real data") {
    import org.apache.spark.sql.functions._
    val native = SparkEntry.queries("q128_asof_tolerance")(spark, sf)
    val composed = SparkEntry.queries("q124_asof_native")(spark, sf)
      .withColumn("last_click_ts",
        when(unix_micros(col("ts")) - unix_micros(col("last_click_ts")) <=
          24L * 3600 * 1000000, col("last_click_ts")))
    assert(native.columns.toSeq === composed.columns.toSeq)
    assert(native.exceptAll(composed).isEmpty &&
      composed.exceptAll(native).isEmpty)
    // both branches exercised: some matches survive, some are nulled
    val n = native.count()
    val kept = native.filter(col("last_click_ts").isNotNull).count()
    val q124kept = SparkEntry.queries("q124_asof_native")(spark, sf)
      .filter(col("last_click_ts").isNotNull).count()
    assert(kept > 0, "tolerance nulled every match — not discriminating")
    assert(kept < q124kept, "tolerance nulled nothing — not discriminating")
    assert(n === SparkEntry.queries("q124_asof_native")(spark, sf).count())
  }

  test("q124 custom operator ≡ q43 composed union+window formulation") {
    val native = SparkEntry.queries("q124_asof_native")(spark, sf)
    val composed = SparkEntry.queries("q43_asof_join")(spark, sf)
    assert(native.columns.toSeq === composed.columns.toSeq)
    assert(native.exceptAll(composed).isEmpty && composed.exceptAll(native).isEmpty)
  }

  test("forward direction: earliest at-or-after wins, inclusive, nulls") {
    val trades = Seq(
      (1L, 10L, ts(100)), // quotes at 200,300 ahead → earliest (200)
      (2L, 10L, ts(200)), // exactly at quote ts(200) → inclusive match
      (3L, 10L, ts(350)), // after every quote → null
      (4L, 99L, ts(500))  // key with no quotes → null
    ).toDF("trade_id", "sym", "t")
    val quotes = Seq(
      (10L, ts(200), 1.0),
      (10L, ts(300), 2.0),
      (77L, ts(100), 9.0)
    ).toDF("sym", "qt", "px")

    val out = AsofJoin.asofForward(trades, quotes, "sym", "t", "qt")
      .orderBy("trade_id")
      .select($"trade_id", $"qt", $"px")
      .collect()

    assert(out(0).getTimestamp(1) == ts(200) && out(0).getDouble(2) == 1.0)
    assert(out(1).getTimestamp(1) == ts(200) && out(1).getDouble(2) == 1.0)
    assert(out(2).isNullAt(1) && out(2).isNullAt(2))
    assert(out(3).isNullAt(1) && out(3).isNullAt(2))
    // helper negation columns must not leak into the output
    assert(out.head.schema.fieldNames.forall(!_.startsWith("__")))
  }

  test("forward tolerance bounds the look-AHEAD; long time columns work") {
    val trades = Seq(
      (1L, 10L, 100L), // next quote at 150, 50 ahead → inside 100
      (2L, 10L, 40L),  // next quote at 150, 110 ahead → OUTSIDE
      (3L, 10L, 400L)  // nothing ahead → null either way
    ).toDF("trade_id", "sym", "t")
    val quotes = Seq((10L, 150L, 1.0)).toDF("sym", "qt", "px")
    val out = AsofJoin.asofForward(trades, quotes, "sym", "t", "qt",
        toleranceUs = Some(100L))
      .orderBy("trade_id").select($"trade_id", $"px").collect()
    assert(out(0).getDouble(1) === 1.0)
    assert(out(1).isNullAt(1), "too-far-ahead match must null-pad")
    assert(out(2).isNullAt(1))
    // without tolerance the far match survives
    val noTol = AsofJoin.asofForward(trades, quotes, "sym", "t", "qt")
      .orderBy("trade_id").select($"px").collect()
    assert(noTol(1).getDouble(0) === 1.0)
  }

  test("nearest direction: closer side wins, ties go backward, payload follows") {
    val trades = Seq(
      (1L, 10L, ts(210)), // behind 200 (d=10), ahead 300 (d=90) → behind
      (2L, 10L, ts(290)), // behind 200 (d=90), ahead 300 (d=10) → ahead
      (3L, 10L, ts(250)), // equidistant (50/50) → BACKWARD wins the tie
      (4L, 10L, ts(100)), // nothing behind → ahead (200)
      (5L, 10L, ts(400)), // nothing ahead → behind (300)
      (6L, 99L, ts(500))  // no quotes at all → null
    ).toDF("trade_id", "sym", "t")
    val quotes = Seq(
      (10L, ts(200), 1.0),
      (10L, ts(300), 2.0)
    ).toDF("sym", "qt", "px")

    val out = AsofJoin.asofNearest(trades, quotes, "sym", "t", "qt", "trade_id")
      .orderBy("trade_id")
      .select($"trade_id", $"qt", $"px")
      .collect()

    // payload (px) must come from the SAME row as the picked time
    assert(out(0).getTimestamp(1) == ts(200) && out(0).getDouble(2) == 1.0)
    assert(out(1).getTimestamp(1) == ts(300) && out(1).getDouble(2) == 2.0)
    assert(out(2).getTimestamp(1) == ts(200) && out(2).getDouble(2) == 1.0,
      "equidistant match must resolve backward")
    assert(out(3).getTimestamp(1) == ts(200) && out(3).getDouble(2) == 1.0)
    assert(out(4).getTimestamp(1) == ts(300) && out(4).getDouble(2) == 2.0)
    assert(out(5).isNullAt(1) && out(5).isNullAt(2))
    assert(out.head.schema.fieldNames.forall(!_.startsWith("__")))
  }

  test("nearest tolerance bounds the distance on both sides") {
    val trades = Seq(
      (1L, 10L, 140L), // behind 100 (d=40), ahead 300 (d=160); tol 50 → behind
      (2L, 10L, 260L), // behind 100 (d=160), ahead 300 (d=40); tol 50 → ahead
      (3L, 10L, 200L)  // both 100 away; tol 50 → null
    ).toDF("trade_id", "sym", "t")
    val quotes = Seq((10L, 100L, 1.0), (10L, 300L, 2.0)).toDF("sym", "qt", "px")
    val out = AsofJoin.asofNearest(trades, quotes, "sym", "t", "qt", "trade_id",
        toleranceUs = Some(50L))
      .orderBy("trade_id").select($"trade_id", $"px").collect()
    assert(out(0).getDouble(1) === 1.0)
    assert(out(1).getDouble(1) === 2.0)
    assert(out(2).isNullAt(1), "both sides out of tolerance must null-pad")
    // without tolerance the tie resolves backward instead
    val noTol = AsofJoin.asofNearest(trades, quotes, "sym", "t", "qt", "trade_id")
      .orderBy("trade_id").select($"px").collect()
    assert(noTol(2).getDouble(0) === 1.0)
  }

  test("nearest rejects right payload columns that collide with left names") {
    // withColumnRenamed renames every matching column: a shared name
    // would silently corrupt the left twin, so the contract demands
    // name-disjoint payloads (ADVICE r7) — must fail fast, not corrupt
    val trades = Seq((1L, 10L, 100L, 9.0)).toDF("trade_id", "sym", "t", "px")
    val quotes = Seq((10L, 90L, 1.0)).toDF("sym", "qt", "px") // px on BOTH
    val e = intercept[IllegalArgumentException] {
      AsofJoin.asofNearest(trades, quotes, "sym", "t", "qt", "trade_id")
    }
    assert(e.getMessage.contains("px"))
    // pre-prefixed left columns collide with the internal tags too
    val tradesPref = Seq((1L, 10L, 100L, 9.0)).toDF("trade_id", "sym", "t", "__b_px")
    val quotes2 = Seq((10L, 90L, 1.0)).toDF("sym", "qt", "px")
    val e2 = intercept[IllegalArgumentException] {
      AsofJoin.asofNearest(tradesPref, quotes2, "sym", "t", "qt", "trade_id")
    }
    assert(e2.getMessage.contains("__b_px"))
  }

  test("q130 forward operator ≡ window-composed next-click on real data") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val native = SparkEntry.queries("q130_asof_forward")(spark, sf)
    // independent composed formulation: union events, carry the NEXT
    // click time backward per user, keep purchases, apply the cutoff
    val ev = graft.Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("is_click").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val composed = ev
      .withColumn("is_click", (col("event_type") === "click").cast("int"))
      .withColumn("click_ts", when(col("is_click") === 1, col("ts")))
      .withColumn("nxt", min(col("click_ts")).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        when(unix_micros(col("nxt")) - unix_micros(col("ts")) <=
          24L * 3600 * 1000000, col("nxt")).as("next_click_ts"))
    assert(native.columns.toSeq === composed.columns.toSeq)
    assert(native.exceptAll(composed).isEmpty &&
      composed.exceptAll(native).isEmpty)
    // both branches exercised on the gate data
    val kept = native.filter(col("next_click_ts").isNotNull).count()
    assert(kept > 0 && kept < native.count())
  }

  /** The Rule[LogicalPlan] leg: a deterministic left-only filter above
    * the as-of join must sink below it (pruning before the key
    * exchange); right-side predicates must NOT move (they would change
    * which right row is "latest at-or-before").
    */
  test("left-only filter pushes below the as-of join; right-side filter stays") {
    val trades = Seq((1L, 10L, ts(100)), (2L, 10L, ts(250)),
      (3L, 20L, ts(300))).toDF("trade_id", "sym", "t")
    val quotes = Seq((10L, ts(200), 1.0), (20L, ts(250), 2.0))
      .toDF("sym", "qt", "px")
    val joined = AsofJoin.asof(trades, quotes, "sym", "t", "qt")

    val leftFiltered = joined.filter($"trade_id" > 1)
    val opt = leftFiltered.queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    val aj = opt.collect { case p: graft.plans.AsofJoinPlan => p }.head
    assert(aj.left.exists {
      case LFilter(c, _) => c.references.map(_.name).toSet == Set("trade_id")
      case _ => false
    }, s"left-only filter not pushed below the join:\n$opt")
    assert(!opt.exists { case LFilter(_, _: graft.plans.AsofJoinPlan) => true
      case _ => false }, s"filter still above the join:\n$opt")
    // semantics unchanged by the move
    assert(leftFiltered.orderBy("trade_id").select($"trade_id", $"px")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1.0 else r.getDouble(1)))
      .toSeq === Seq((2L, 1.0), (3L, 2.0)))

    // right-side predicate: must stay above (pushing it would turn
    // trade 2's match from px=1.0 into null instead of dropping the row)
    val rightFiltered = joined.filter($"px" > 1.5)
    val opt2 = rightFiltered.queryExecution.optimizedPlan
    val aj2 = opt2.collect { case p: graft.plans.AsofJoinPlan => p }.head
    assert(!aj2.right.exists { case LFilter(_, _) => true; case _ => false },
      s"right-side filter illegally pushed:\n$opt2")
    assert(rightFiltered.select($"trade_id").collect().map(_.getLong(0)).toSeq
      === Seq(3L))
  }

  test("plan shape: AsofJoinExec node, one exchange per side, merge not window") {
    val df = SparkEntry.queries("q124_asof_native")(spark, sf)
    df.collect() // materialize so the adaptive plan is final
    val full = df.queryExecution.executedPlan.toString
    // AQE prints Final and Initial copies — assert on the final one
    val plan = full.split("== Initial Plan ==")(0)
    assert(plan.contains("AsofJoin"), s"no AsofJoinExec in:\n$plan")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges === 2,
      s"expected exactly one hash exchange per side, got $hashExchanges in:\n$plan")
    assert(!plan.contains("Window"), "merge join, not a window rewrite")
  }
}
