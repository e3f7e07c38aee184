package graft

import org.scalatest.funsuite.AnyFunSuite

/** The plan audit (`Profile.explain`) writes a plan the same way in
  * every JVM.
  */
class PlanAuditSpec extends AnyFunSuite {

  /** q22's distinct-aggregate rewrite, with its two distinct groups in
    * the order `first`, `second` (the order differs per JVM).
    */
  private def q22(first: String, second: String): String = {
    val gid = Map(first -> 1, second -> 2)
    def key(c: String) =
      if (c == "l_suppkey") s"knownfloatingpointnormalized($c) AS $c" else c
    s"""(1) Scan parquet
       |Output [3]: [l_partkey, l_suppkey, l_returnflag]
       |
       |(2) Expand
       |Input [3]: [l_partkey, l_suppkey, l_returnflag]
       |Arguments: [[l_returnflag, null, null, 0], [l_returnflag, $first, null, 1], [l_returnflag, null, $second, 2]], [l_returnflag, $first, $second, gid]
       |
       |(3) HashAggregate
       |Keys [4]: [l_returnflag, ${key(first)}, ${key(second)}, gid]
       |Arguments: hashpartitioning(l_returnflag, $first, $second, gid, 8), ENSURE_REQUIREMENTS
       |Functions [3]: [partial_count(l_partkey) FILTER (WHERE (gid = ${gid("l_partkey")})), partial_count(l_suppkey) FILTER (WHERE (gid = ${gid("l_suppkey")})), partial_first(count(1), true) FILTER (WHERE (gid = 0))]
       |""".stripMargin
  }

  test("distinct-aggregate groups print in column-name order") {
    val sorted = q22("l_partkey", "l_suppkey")
    assert(Profile.sortDistinctGroups(q22("l_suppkey", "l_partkey")) === sorted)
    assert(Profile.sortDistinctGroups(sorted) === sorted)
    // without a grouping key the group columns open every list
    def ungrouped(plan: String) = plan.replace("l_returnflag, ", "")
    assert(Profile.sortDistinctGroups(ungrouped(q22("l_suppkey", "l_partkey"))) ===
      ungrouped(sorted))
  }
}
