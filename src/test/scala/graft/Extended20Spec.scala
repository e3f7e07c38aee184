package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks behind the q121–q123 oracles (the oracles prove
  * cross-engine equality of the exact columns + contract booleans;
  * these prove the sketch/postings CONTENT means what it claims).
  */
class Extended20Spec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf
  import spark.implicits._

  test("q121: every sketch estimate is within its contract of exact") {
    val rows = SparkEntry.queries("q121_sketch_distinct")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(2), s"hllpp_ok false for ${r.get(0)}")
      assert(r.getBoolean(3), s"sketch_ok false for ${r.get(0)}")
      assert(r.getBoolean(4), s"union_ok false for ${r.get(0)}")
    }
  }

  test("q121: sketch union is associative with the data split (merge = direct)") {
    // The mergeable-sketch property the 100 TB plan relies on: the
    // union of per-subset sketches estimates the same set as one
    // direct sketch over the union of subsets.
    val li = Tables.lineitem(spark, sf)
    val direct = li
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(l_orderkey, 12))"))
      .head.getLong(0)
    val merged = li
      .groupBy("l_linestatus")
      .agg(expr("hll_sketch_agg(l_orderkey, 12)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))"))
      .head.getLong(0)
    val exact = li.select(countDistinct($"l_orderkey")).head.getLong(0)
    assert(math.abs(direct - exact) <= 0.05 * exact)
    assert(math.abs(merged - exact) <= 0.05 * exact)
  }

  test("q122: approx booleans are all true and exact quantiles ordered") {
    val rows = SparkEntry.queries("q122_sketch_quantiles")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(1) <= r.getDouble(2), "p50 <= p95")
      assert(r.getBoolean(3) && r.getBoolean(4))
    }
  }

  test("q123: postings are sorted, df-consistent, and every posting is real") {
    import graft.functions.{TextFunctions => T}
    val idx = SparkEntry.queries("q123_inverted_index")(spark, sf)
      .as[(String, Long, String)].collect()
    assert(idx.nonEmpty)
    val docTokens: Map[Long, Set[String]] = Tables.documents(spark, sf)
      .select($"doc_id", T.tokens($"text").as("toks"))
      .as[(Long, Seq[String])].collect()
      .map { case (id, ts) => id -> ts.toSet }.toMap
    idx.foreach { case (token, df, postingsJson) =>
      val postings = postingsJson.stripPrefix("[").stripSuffix("]")
        .split(",").filter(_.nonEmpty).map(_.trim.toLong).toSeq
      assert(postings.length.toLong === df, s"df mismatch for '$token'")
      assert(postings === postings.sorted, s"postings unsorted for '$token'")
      postings.foreach { d =>
        assert(docTokens(d).contains(token),
          s"doc $d does not contain token '$token'")
      }
    }
  }
}
