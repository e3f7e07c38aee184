package graft

import graft.sources.Sources
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** q135 CDC MERGE apply: deletes drop, updates rewrite, inserts
  * append, untouched rows pass through byte-identical — checked
  * against the base table on real data (the gate oracle replays the
  * same changelog in DuckDB).
  */
class CdcMergeSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  test("merge semantics: D removes, U rewrites, I appends, rest unchanged") {
    val base = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("k"),
        col("o_totalprice").cast("decimal(18,2)").as("price"),
        col("o_orderstatus").as("status"))
    val out = SparkEntry.queries("q135_cdc_merge")(spark, sf)
    val maxK = base.agg(max(col("k"))).collect()(0).getLong(0)

    val nBase = base.count()
    val nDel = base.filter(col("k") % 10 === 7).count()
    val nUpd = base.filter(col("k") % 10 === 3).count()
    assert(nDel > 0 && nUpd > 0, "changelog vacuous at test SF")
    assert(out.count() === nBase - nDel + 5)
    // deletes gone, inserts present with the literal values
    assert(out.filter(col("k") % 10 === 7 && col("k") <= maxK).count() === 0)
    val ins = out.filter(col("k") > maxK).collect()
    assert(ins.length === 5 &&
      ins.forall(r => r.getDouble(1) == 1234.56 && r.getString(2) == "N"))
    // updates rewritten exactly (+100.00, status P)
    val basePrices = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("k"),
        col("o_totalprice").cast("decimal(18,2)").cast("double").as("base_price"))
    val upd = out.filter(col("k") % 10 === 3 && col("k") <= maxK)
      .join(basePrices, "k")
      .select((col("price") - col("base_price")).as("d"), col("status"))
    assert(upd.count() === nUpd)
    assert(upd.collect().forall(r =>
      math.abs(r.getDouble(0) - 100.0) < 1e-9 && r.getString(1) == "P"))
    // untouched rows byte-identical to base
    val untouched = out
      .filter(col("k") % 10 =!= 3 && col("k") % 10 =!= 7 && col("k") <= maxK)
      .select(col("k"), col("price"), col("status"))
    val expect = base
      .filter(col("k") % 10 =!= 3 && col("k") % 10 =!= 7)
      .select(col("k"), col("price").cast("double").as("price"), col("status"))
    assert(untouched.exceptAll(expect).isEmpty &&
      expect.exceptAll(untouched).isEmpty)
  }

  /** The layout claim in q135's doc (JoinQueries.scala): the merge's
    * full-outer join shuffles each side once on the merge key — or
    * ZERO times when the side is bucketed on it. Proven both ways:
    * bucketed base + bucketed changelog ⇒ no ShuffleExchange in the
    * whole merge plan; plain changelog ⇒ exactly one exchange (the
    * changelog side), the base side still rides its bucket layout.
    */
  test("CDC merge over a bucketed base is shuffle-free (zero exchanges)") {
    val s = spark
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // AQE wraps the plan in an adaptive leaf node whose exchanges are
    // invisible to collect(); scope it off so the count is direct
    s.conf.set("spark.sql.adaptive.enabled", "false")
    def exchanges(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
    try {
      val base = Tables.orders(s, sf)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast("decimal(18,2)").as("price"),
          col("o_orderstatus").as("status"))
      val changes = base.filter(col("k") % 10 === 3)
        .select(col("k"), lit("U").as("op"),
          (col("price") + 100).as("new_price"), lit("P").as("new_status"))
      Sources.writeBucketed(base, "cdc_base_bkt", "k", 8)
      Sources.writeBucketed(changes, "cdc_chg_bkt", "k", 8)
      def merge(b: org.apache.spark.sql.DataFrame,
          c: org.apache.spark.sql.DataFrame) =
        b.join(c, Seq("k"), "full_outer")
          .filter(col("op").isNull || col("op") =!= "D")
          .select(col("k"),
            when(col("op").isin("U", "I"), col("new_price"))
              .otherwise(col("price")).as("price"),
            when(col("op").isin("U", "I"), col("new_status"))
              .otherwise(col("status")).as("status"))
      val bothBucketed = merge(s.table("cdc_base_bkt"), s.table("cdc_chg_bkt"))
      assert(exchanges(bothBucketed).isEmpty,
        s"bucketed CDC merge still shuffles:\n${bothBucketed.queryExecution.executedPlan}")
      assert(bothBucketed.count() === base.count())
      // plain changelog: exactly ONE exchange, on the changelog side
      val plainChg = merge(s.table("cdc_base_bkt"), changes)
      assert(exchanges(plainChg).length === 1,
        s"expected one changelog-side exchange:\n${plainChg.queryExecution.executedPlan}")
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      s.conf.set("spark.sql.adaptive.enabled", "true")
      s.sql("DROP TABLE IF EXISTS cdc_base_bkt")
      s.sql("DROP TABLE IF EXISTS cdc_chg_bkt")
    }
  }
}
