package graft

import org.scalatest.funsuite.AnyFunSuite

/** Changelog checkpointing must ENGAGE wherever corpus-linear state
  * pins the RocksDB provider.
  *
  * Why this exists: the ×2048 multi-batch probe measured the default
  * full-snapshot checkpoint mode re-uploading every
  * compaction-rewritten SST on every commit (3.99 → 5.36 → 10.96 GB
  * per commit for 12 GB of live state) with nothing ever deleted
  * inside a short run (minBatchesToRetain defaults to 100) — the
  * checkpoint dir was strictly append-only until ENOSPC killed both
  * legs at the batch-3 commit. With changelogs a commit ships only
  * the batch's own puts and snapshots move to the async maintenance
  * thread, so the per-commit upload is delta-sized.
  *
  * Direct evidence, not conf-echo: this drains a real corpus-linear
  * stream (q47, distinct-key dedup state) on a session with a
  * checkpoint root, which Spark keeps after the stream stops, and
  * asserts the state checkpoint on disk contains `.changelog` commit
  * files — the artifact only the changelog mode writes.
  */
class LeanCheckpointSpec extends AnyFunSuite {
  private val sf = SparkTestSession.sf

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (!f.exists()) Seq.empty
    else if (f.isDirectory)
      Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    else Seq(f)

  test("corpus-linear file-sink stream commits RocksDB changelogs, " +
      "and the session conf is restored after") {
    val clogKey = "spark.sql.streaming.stateStore.rocksdb." +
      "changelogCheckpointing.enabled"
    SparkTestSession.withCheckpointRoot { (s, root) =>
      val snap = SparkEntry.queries("q47_stream_dedup")(s, sf)
      assert(snap.count() > 0, "q47 produced no rows")
      val stateFiles = walk(root).filter(_.getPath.contains("/state/"))
      assert(stateFiles.nonEmpty, "q47 checkpoint has no state files at all")
      val changelogs = stateFiles.filter(_.getName.endsWith(".changelog"))
      assert(changelogs.nonEmpty,
        "no .changelog commit files in the RocksDB state checkpoint — " +
          "changelog checkpointing did not engage on the corpus-linear " +
          s"path (state files: ${stateFiles.map(_.getName).distinct.take(20)})")
      // The pin is scoped to the query: runToSnapshot must restore the
      // session conf (here: back to unset) exactly like providerClass.
      assert(s.conf.getOption(clogKey).isEmpty,
        s"$clogKey leaked into the session after the run")
    }
  }
}
