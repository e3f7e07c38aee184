package graft

import org.scalatest.funsuite.AnyFunSuite

/** Direct-evidence closures for the ADVICE r15 items:
  *  1. the memoized q136 pair table is a checkpoint leaf (Scan
  *     ExistingRDD) after a construction under a `Profile`, the
  *     shape docs/PLANS.md's WARM q137 section shows;
  *  2. tableRowCount recurses into nested/partitioned parquet layouts
  *     and treats an empty file list under a real directory as a
  *     LOGGED probe failure (uncached), never a silent cached 0;
  *  3. a Memo stage's rebuild path (streamFeats') frees only the
  *     exact stale entry it observed — a fresh entry installed by a concurrent caller
  *     survives (its lineage-free localCheckpoint could not recover
  *     from an unpersist).
  * (The 4th item — draining the async listener bus before snapshot
  * reads — is `Profile.of`'s GraftSqlBridge.waitForListeners call,
  * which every profile-reading spec exercises.)
  */
class AdviceR15Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  test("warm-audit sequence: evicting the nofinal-poisoned memo yields a " +
      "checkpoint-leaf pair table; without the evict the memo is poisoned") {
    // Every construction checkpoints its pair table, and an audit
    // reads plans through a Profile rather than skipping the
    // final checkpoint, so no construction memoizes an un-checkpointed
    // table. Pinned: q136 built under the capture (the audit loop's
    // shape), then run clean with no evict, leaves a checkpoint leaf.
    import graft.queries.DedupQueries
    Memo.release(sf)
    val built = Profile.of(spark)(
      SparkEntry.queries("q136_dedup_incremental")(spark, sf))
    assert(built.actions.exists(_.name == "localCheckpoint"))
    SparkEntry.queries("q136_dedup_incremental")(spark, sf).count()
    assert(DedupQueries.incrementalPairs(spark, sf).queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      "q136 memoized a pair table that is not a checkpoint leaf - the " +
        "warm q137 audit would show a recomputed pipeline")
    Memo.release(sf)
  }

  test("tableRowCount recurses into nested parquet layouts and does not " +
      "cache a 0 for an empty directory") {
    import graft.streaming.StreamingQueries
    val tmp = java.nio.file.Files.createTempDirectory("graft_rowcount")
    // nested layout: part files live in SUBDIRECTORIES (the
    // hive-partitioned shape Sources.writePartitioned produces) — the
    // old top-level-only listing saw zero files and cached n=0
    spark.read.parquet(s"$sf/events.parquet").limit(500)
      .write.parquet(s"$tmp/events.parquet/sub=a")
    spark.read.parquet(s"$sf/events.parquet").limit(250)
      .write.parquet(s"$tmp/events.parquet/sub=b")
    assert(StreamingQueries.eventsRowCount(spark, tmp.toString) === 750L,
      "nested part files were not counted — a partitioned layout " +
        "would silently fall back to the in-heap provider")
    // empty-directory probe: a real dir with no parquet underneath is
    // a FAILURE (logged, returns 0) and must NOT be cached — once
    // files appear, the next probe sees them
    val tmp2 = java.nio.file.Files.createTempDirectory("graft_rowcount2")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$tmp2/events.parquet"))
    assert(StreamingQueries.eventsRowCount(spark, tmp2.toString) === 0L)
    spark.read.parquet(s"$sf/events.parquet").limit(111)
      .write.mode("append").parquet(s"$tmp2/events.parquet")
    assert(StreamingQueries.eventsRowCount(spark, tmp2.toString) === 111L,
      "the empty-directory 0 was cached — the silent in-heap fallback " +
        "ADVICE r15 flagged")
  }

  test("streamFeats CAS install: a concurrently installed fresh entry " +
      "survives; the loser's table is the one freed") {
    val dir = s"graft_feats_race_${System.nanoTime()}"
    def ckpt(n: Long): org.apache.spark.sql.DataFrame =
      spark.range(n).toDF("v").localCheckpoint(true)
    def rddOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed
        .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
    def persisted(df: org.apache.spark.sql.DataFrame) =
      rddOf(df).getStorageLevel != org.apache.spark.storage.StorageLevel.NONE
    def entry(fp: Memo.Fingerprint, df: org.apache.spark.sql.DataFrame) =
      new Memo.Entry(fp, df, Seq(df))
    def install(e: Memo.Entry, observed: Option[Memo.Entry]) =
      Memo.install("stream_feats", dir, e, observed)
    val fpOld = Seq(("old", 1L, 1L)); val fpNew = Seq(("new", 2L, 2L))
    val stale = ckpt(3)
    val staleEntry = entry(fpOld, stale)
    install(staleEntry, None)
    // thread A observes `stale`, then — before A installs — a
    // concurrent caller B invalidates and installs a FRESH entry
    val observed = Some(staleEntry)
    Memo.release(dir) // B: frees stale
    assert(!persisted(stale))
    val fresh = ckpt(5)
    install(entry(fpNew, fresh), None) // B installs
    // A's rebuild completes and installs against its stale OBSERVATION:
    // with the old code this unpersisted whatever was cached — B's
    // fresh, lineage-free table, an unrecoverable corruption
    val mine = ckpt(5)
    val won = install(entry(fpNew, mine), observed)
      .value.asInstanceOf[org.apache.spark.sql.DataFrame]
    assert(persisted(fresh), "the concurrent caller's fresh entry was " +
      "unpersisted by a loser's stale observation (ADVICE r15)")
    assert(!persisted(mine), "the racing loser's table must be freed " +
      "(nobody has seen it)")
    assert(rddOf(won).id === rddOf(fresh).id,
      "the loser must adopt the winner's table")
    Memo.release(dir)
    assert(!persisted(fresh))
  }

  test("Bench.concurrentGraftJvms excludes this JVM and its ancestors") {
    // this test runs INSIDE an sbt JVM whose own cmdline mentions no
    // graft main, launched by an sbt launcher that may; the fence must
    // never name its own process chain — and on a quiet box the list
    // is empty, which is exactly the BENCH_r16 assertion shape
    val self = ProcessHandle.current().pid()
    val hits = Bench.concurrentGraftJvms()
    assert(!hits.exists(_.startsWith(s"pid=$self:")),
      s"the fence named its own JVM: $hits")
  }
}
