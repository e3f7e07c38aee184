package graft

import graft.queries.DedupQueries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q136 — incremental (asymmetric) dedup. The defining property: the
  * standing-index probe must be EQUIVALENT to rerunning the symmetric
  * pipeline on the grown corpus — pairs(full) = pairs(base-only) ∪
  * pairs(increment) — while never recomputing a base-vs-base pair
  * (the architectural point; the probe stages are shard-sized).
  * At gate scale recall is 1 everywhere (testdata similarity gap), so
  * the identity is EXACT set equality, not a bound.
  */
class IncrementalDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private def pairRows(df: org.apache.spark.sql.DataFrame) =
    df.select("a", "b", "jaccard").collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Double]("jaccard"))).toSet

  test("q136: increment ∪ base-only ≡ full symmetric rerun, disjointly") {
    val split = DedupQueries.incrementalSplit(spark, sf)
    assert(split > 0L)
    val full = pairRows(DedupQueries.nearDupPairs(spark, sf))
    val base = pairRows(DedupQueries.nearDupPairsBelow(spark, sf, split))
    val incrDf = DedupQueries.incrementalPairs(spark, sf)
    val incr = pairRows(incrDf)
    // every incremental pair touches the increment (b is the higher id)
    assert(incr.forall(_._2 >= split),
      s"pair with both sides below split=$split leaked into the increment")
    // base-only pairs never touch it
    assert(base.forall(_._2 < split))
    // the identity — and disjointness, so the union is a partition
    assert((base & incr) === Set.empty)
    assert(base ++ incr === full,
      s"missed: ${full -- base -- incr}; invented: ${(base ++ incr) -- full}")
    assert(incr.nonEmpty, "testdata plants near-dups in the top-id fifth")
  }

  test("q136: vs_base labels new-vs-base rows; canonical ordering") {
    val split = DedupQueries.incrementalSplit(spark, sf)
    val rows = DedupQueries.incrementalPairs(spark, sf).collect()
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("a"), r.getAs[Long]("b"))
      assert(a < b, s"pair not canonical: ($a, $b)")
      assert(r.getAs[Boolean]("vs_base") === (a < split))
      assert(r.getAs[Double]("jaccard") >= 0.5)
    }
    // both pair kinds occur at gate scale (planted dups straddle and
    // sit inside the top fifth)
    assert(rows.exists(_.getAs[Boolean]("vs_base")))
  }

  test("q136: the standing index is memoized (warm probes reuse it)") {
    val i1 = DedupQueries.incrementalSplit(spark, sf)
    val i2 = DedupQueries.incrementalSplit(spark, sf)
    assert(i1 === i2)
  }

  /** r13 (VERDICT r12 #2): the daily pipeline END-TO-END — apply day
    * 1's shard against the standing index, ADVANCE the index with
    * that shard, apply day 2's shard against the advanced index. Each
    * day's kept rows must equal the full-corpus q111 rerun's kept set
    * restricted to that shard (the monotone-append theorem: a shard
    * doc's keep/drop decision never needs base-vs-base CC). Day 2
    * passing is what proves the index UPDATE: its shard straddles
    * day-1 docs only through the merged index.
    */
  test("q137: day-by-day apply over two shards ≡ full rerun, per shard") {
    val maxId = Tables.documents(spark, sf)
      .agg(max(col("doc_id"))).head.getLong(0)
    val s1 = maxId * 4L / 5L
    val s2 = maxId * 9L / 10L
    val full = SparkEntry.queries("q111_dedup_apply")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val idx1 = DedupQueries.indexFor(spark, sf, s1)
    val kept1 = DedupQueries.incrementalApplyWith(idx1, sf, until = s2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val idx2 = DedupQueries.indexUpdatedWith(idx1, sf, s2)
    val kept2 = DedupQueries.incrementalApplyWith(idx2, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want1 = full.filter(id => id >= s1 && id < s2)
    val want2 = full.filter(_ >= s2)
    assert(kept1 === want1,
      s"day 1 diverged: missed ${want1 -- kept1}, invented ${kept1 -- want1}")
    assert(kept2 === want2,
      s"day 2 diverged: missed ${want2 -- kept2}, invented ${kept2 -- want2}")
    assert(kept1.nonEmpty && kept2.nonEmpty,
      "fixture shards kept nothing — the equivalence was vacuous")
    // and the kept corpus is monotone: shards only ever append
    assert(kept1.forall(id => id >= s1 && id < s2))
    assert(kept2.forall(_ >= s2))
  }

  /** The advanced index must be VALUE-equivalent to a cold rebuild at
    * the new split: probe outputs (the only thing an index is for)
    * and the exact-key set both match exactly — every pipeline stage
    * is deterministic xxhash arithmetic, so this is set equality, not
    * a bound.
    */
  test("q137: indexUpdatedWith ≡ indexFor at the advanced split") {
    val maxId = Tables.documents(spark, sf)
      .agg(max(col("doc_id"))).head.getLong(0)
    val s1 = maxId * 4L / 5L
    val s2 = maxId * 9L / 10L
    val merged = DedupQueries.indexUpdatedWith(
      DedupQueries.indexFor(spark, sf, s1), sf, s2)
    val fresh = DedupQueries.indexFor(spark, sf, s2)
    assert(merged.split === fresh.split)
    val pm = pairRows(DedupQueries.incrementalPairsWith(merged, sf))
    val pf = pairRows(DedupQueries.incrementalPairsWith(fresh, sf))
    assert(pm === pf,
      s"merged-index probe diverged: ${pm -- pf} vs ${pf -- pm}")
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys(merged.exactKeys) === keys(fresh.exactKeys))
  }

  /** ADVICE r12: the memoized index is fingerprint-guarded and
    * harness-evictable — same corpus reuses the instance, an explicit
    * `Memo.release` forces a rebuild whose probes still agree.
    */
  test("standing-index cache: fingerprint hit reuses, invalidate evicts") {
    val a = DedupQueries.incrementalIndex(spark, sf)
    val b = DedupQueries.incrementalIndex(spark, sf)
    assert(a eq b, "same fingerprint must reuse the cached instance")
    val before = pairRows(DedupQueries.incrementalPairs(spark, sf))
    Memo.release(sf)
    val c = DedupQueries.incrementalIndex(spark, sf)
    assert(!(c eq a), "invalidate must evict the cached instance")
    assert(pairRows(DedupQueries.incrementalPairs(spark, sf)) === before)
  }

  /** r14 (VERDICT r13 #2): the pair-pipeline recompute pin. A cold
    * q136 materializes the pipeline ONCE per corpus; the warm path —
    * q136 rerun or q137's apply — must reuse the memoized table and
    * run ZERO pipeline stages (the r13 bench showed q137 re-running
    * the probe, candidate and MinHash checkpoints q136 had just
    * built, roughly doubling the family's bench cost). Evidence is
    * each scope's Profile: the cold call runs the pipeline's actions,
    * the warm one returns the same frame with no job, and the q137
    * entry runs none of the pipeline's executed plans.
    */
  test("incremental pairs memo: warm q136/q137 run zero pipeline stages") {
    Memo.release(sf)
    val cold = Profile.of(spark)(DedupQueries.incrementalPairs(spark, sf))
    val pipeline = cold.actions.map(a => Profile.explain(a.qe)).toSet
    assert(cold.actions.count(_.name == "localCheckpoint") > 4,
      s"cold build must run the pipeline (saw ${cold.actions.map(_.name)})")
    val warm = Profile.of(spark)(DedupQueries.incrementalPairs(spark, sf))
    assert(warm.value eq cold.value, "same fingerprint must reuse the pair table")
    assert(warm.jobs === 0, "warm q136 ran a Spark job")
    // the q137 ENTRY (memoized-pairs path): only apply-side actions
    val apply = Profile.of(spark)(
      SparkEntry.queries("q137_dedup_incr_apply")(spark, sf).count())
    val applyPlans = apply.actions.map(a => Profile.explain(a.qe))
    assert(applyPlans.nonEmpty)
    assert(applyPlans.forall(p => !pipeline.contains(p)),
      "q137 re-ran a pair-pipeline action")
  }
}
