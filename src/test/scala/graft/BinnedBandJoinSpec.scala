package graft

import graft.queries.JoinQueries
import org.scalatest.funsuite.AnyFunSuite

/** The binned band join (q134 / `bandPairsBinned`) — pure equi-join
  * plan, exactly-once pair emission, bucket-boundary exactness on
  * authored values, and equality against a brute-force scan of the
  * real orders table (the gate oracle is DuckDB's own inequality
  * join at sf0.01).
  */
class BinnedBandJoinSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf
  import spark.implicits._

  test("authored boundary cases: ε-exact in, ε+1 out, cross-bucket caught") {
    // eps=10, width=20. Buckets: 19|20 boundary between ids 1 and 2.
    val items = Seq(
      (1L, 15L),  // pairs with 2 (Δ10, CROSS bucket 0→1) and 3 (Δ5)
      (2L, 25L),  // pairs with 3 (Δ5)
      (3L, 20L),  // boundary value, bucket 1
      (4L, 36L),  // Δ11 to 2 → OUT; Δ4 to 5 → in
      (5L, 40L),
      (6L, 300L), // isolated
      (7L, 15L)   // duplicate value: pairs with 1 (Δ0), 2, 3
    ).toDF("id", "v")
    val got = JoinQueries.bandPairsBinned(items, "id", "v", eps = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L),
      (1L, 7L), (2L, 7L), (3L, 7L)))
  }

  test("pairs match a brute-force scan of real orders, incl. cross-bucket") {
    val orders = Tables.orders(spark, sf)
      .selectExpr("o_orderkey", "CAST(ROUND(o_totalprice * 100) AS LONG) AS c")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ka, ca) <- orders; (kb, cb) <- orders
      if ka < kb && math.abs(ca - cb) <= 200
    } yield (ka, kb, ca / 100.0, cb / 100.0)).sortBy(p => (p._1, p._2))
    val out = SparkEntry.queries("q134_binned_band_join")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq === brute.toSeq)
    assert(brute.nonEmpty, "band vacuous at test SF")
    val crossBucket = brute.count { case (_, _, a, b) =>
      ((a * 100).round / 400) != ((b * 100).round / 400) }
    assert(crossBucket > 0, "no cross-bucket pair — bucket edge untested")
  }

  test("each pair is found exactly once (no post-dedup in the plan)") {
    val keys = SparkEntry.queries("q134_binned_band_join")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(keys.nonEmpty && keys.distinct.size === keys.size)
  }

  test("plan is an equi-join: no nested-loop, no cartesian") {
    val df = SparkEntry.queries("q134_binned_band_join")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"band join fell back to a non-equi plan:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      s"no hash/merge equi-join in:\n$plan")
  }
}
