package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import graft.queries.Query
import org.scalatest.funsuite.AnyFunSuite

/** The query registry: one [[Query]] record per operator, declared in
  * the module that owns it. `SparkEntry.queries` / `oracleSql` are
  * views of that one list, so a repeated name must fail when the
  * registry is built instead of silently shadowing an earlier query.
  */
class QueryRegistrySpec extends AnyFunSuite {

  private val names = SparkEntry.registry.map(_.name)

  test("the registry holds 139 uniquely named queries") {
    assert(names.size === 139)
    assert(names.distinct.size === 139)
    assert(SparkEntry.queries.keySet === names.toSet)
  }

  test("a repeated query name throws when the registry is built, naming it") {
    val a = Query("qa_first", (_, _) => null, None)
    val b = Query("qb_other", (_, _) => null, Some("SELECT 1"))
    val e = intercept[IllegalArgumentException](
      Query.index(Seq(a, b, a.copy(oracle = Some("SELECT 2")))))
    assert(e.getMessage.contains("qa_first"), e.getMessage)
    assert(!e.getMessage.contains("qb_other"), e.getMessage)
  }

  test("every oracle belongs to a registered query") {
    assert(SparkEntry.oracleSql.size === 133)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("exactly the six non-SQL-expressible queries have no oracle") {
    assert((SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet) ===
      Set("q38_dedup_embedding", "q40_ann_lsh", "q41_mm_decode",
        "q42_mm_frames", "q51_ann_ivf", "q62_mm_batch_decode"))
  }

  /** SHA-256 over the name-sorted (name, oracle SQL) pairs, each field
    * NUL-terminated. Pinned from the registry before the queries moved
    * into their domain modules: a changed, dropped or re-keyed oracle
    * text changes the digest.
    */
  test("the oracle texts are byte-identical to the pinned digest") {
    val md = MessageDigest.getInstance("SHA-256")
    SparkEntry.oracleSql.toSeq.sorted.foreach { case (name, sql) =>
      md.update(s"$name\u0000$sql\u0000".getBytes(UTF_8))
    }
    assert(md.digest().map("%02x".format(_)).mkString ===
      "2ffe52f9a8b5ddaabd0a219848902ca9b5ed814451d0bd3c80638197c07741dc")
  }
}
