package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}

/** Query code leaves the caller's session confs as it found them:
  * `spark.conf.getAll` (the explicitly set confs) is equal before and
  * after each query. Each test runs on a fresh session over a fresh
  * copy of the test data, so neither another suite's writes nor a
  * stage memoized on another session can hide a write.
  */
class CallerSessionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private def freshDir(): Path = {
    val dir = Files.createTempDirectory("graft_caller_session")
    Files.list(java.nio.file.Paths.get(sf)).forEach(f =>
      Files.copy(f, dir.resolve(f.getFileName)))
    dir
  }

  private def assertLeavesConfs(s: SparkSession, dir: String)(q: String): Unit = {
    val before = s.conf.getAll
    SparkEntry.queries(q)(s, dir).collect()
    val after = s.conf.getAll
    val changed = (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k))
      .map(k => s"$k: ${before.get(k)} -> ${after.get(k)}")
    assert(changed.isEmpty, s"$q changed the caller's confs: ${changed.mkString(", ")}")
  }

  test("events, stream, loop and dedup queries leave the caller's confs unchanged") {
    val dir = freshDir().toString
    val s = spark.newSession()
    try Seq("q20_window_range", "q28_stream_tumble", "q29_stream_range_state",
        "q102_dedup_cluster", "q133_pagerank", "q137_dedup_incr_apply")
      .foreach(assertLeavesConfs(s, dir))
    finally Memo.release(dir)
  }

  test("a file-sink RocksDB drain leaves the caller's confs unchanged") {
    SparkTestSession.withCheckpointRoot((s, _) => assertLeavesConfs(s, sf)("q47_stream_dedup"))
  }
}
