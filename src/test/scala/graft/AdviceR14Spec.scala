package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Direct-evidence closures for the four ADVICE r14 items:
  *  1. the sliced verify frees ONLY its own checkpoints (thread-local
  *     collector, not a context-global registry diff);
  *  2. Bench's per-query failure attribution is per-window (a later
  *     failing query no longer inherits the first failure's reason);
  *  3. q138/q139's corpus feature checkpoint is memoized per dir
  *     (repeated calls in one JVM reuse ONE block set);
  *  4. eventsRowCount reads parquet footers driver-side (no Spark
  *     job) and logs — not swallows — its fallback.
  */
class AdviceR14Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  test("sliced-verify collector tracks only same-thread checkpoints; " +
      "freeing the collected set leaves concurrent checkpoints live") {
    import graft.queries.DedupQueries
    def rddIdOf(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
        case other => fail(s"expected a checkpoint leaf, got ${other.nodeName}")
      }
    // a "concurrent pipeline" checkpoint created BEFORE the window
    val before = DedupQueries.bigCheckpoint(spark.range(8).toDF("x"))
    val beforeId = rddIdOf(before)
    val made = scala.collection.mutable.Set[Int]()
    @volatile var concurrentId = -1
    val mineId = DedupQueries.collectCheckpoints(made) {
      val mine = DedupQueries.bigCheckpoint(spark.range(4).toDF("y"))
      // a checkpoint created by ANOTHER THREAD strictly inside the
      // collected window — the exact case the old global-registry
      // diff would have swept and unpersisted (unrecoverable, since
      // localCheckpoint truncates lineage)
      val t = new Thread(() => {
        concurrentId = rddIdOf(
          DedupQueries.bigCheckpoint(spark.range(6).toDF("z")))
      })
      t.start(); t.join()
      rddIdOf(mine)
    }
    assert(made.contains(mineId), "own checkpoint not collected")
    assert(concurrentId >= 0)
    assert(!made.contains(concurrentId),
      "another thread's checkpoint landed in the slice collector — " +
        "freeing the collection would corrupt a concurrent pipeline")
    assert(!made.contains(beforeId))
    // the slice-loop release shape: unpersist exactly the collection
    val live0 = spark.sparkContext.getPersistentRDDs
    made.foreach(id => live0.get(id).foreach(_.unpersist(blocking = true)))
    val live = spark.sparkContext.getPersistentRDDs.keySet
    assert(live.contains(concurrentId),
      "concurrent checkpoint lost its blocks after the slice release")
    assert(live.contains(beforeId))
    assert(!live.contains(mineId), "collected checkpoint was not freed")
    // cleanup
    Seq(beforeId, concurrentId).foreach(id =>
      spark.sparkContext.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = false)))
  }

  test("SchedCounters attributes each window's FIRST failure, not the JVM's") {
    import org.apache.spark.scheduler._
    val sched = new Bench.SchedCounters
    val info = new TaskInfo(0L, 0, 0, 0, 0L, "driver", "localhost",
      TaskLocality.PROCESS_LOCAL, false)
    def end(reason: org.apache.spark.TaskEndReason) =
      SparkListenerTaskEnd(1, 0, "ResultTask", reason, info, null, null)
    // query A fails with TaskResultLost
    sched.onTaskEnd(end(org.apache.spark.TaskResultLost))
    assert(sched.windowFailure.contains("TaskResultLost"))
    // query B's window starts: the bench resets, then B fails with a
    // DIFFERENT reason — the reported reason must be B's own
    sched.resetWindowFailure()
    assert(sched.windowFailure.isEmpty)
    sched.onTaskEnd(end(org.apache.spark.UnknownReason))
    assert(sched.windowFailure.contains("UnknownReason"),
      s"window failure '${sched.windowFailure}' is not this window's " +
        "first failure (the r14 bug: the once-per-JVM slot reported " +
        "query A's reason for query B)")
  }

  test("q138/q139 corpus feature checkpoint is memoized per dir " +
      "(one block set, fingerprint-guarded)") {
    import graft.streaming.StreamingQueries
    graft.RoundStats.drain()
    StreamingQueries.streamNearDupPairs(spark, sf)
    val cold = graft.RoundStats.drain().map(_.tag)
    StreamingQueries.streamNearDupPairs(spark, sf)
    val warm = graft.RoundStats.drain().map(_.tag)
    // cold call either builds ("stream_feats_ckpt") or hits a memo a
    // previous suite already planted in this shared JVM; the SECOND
    // call right after must be a memo hit — never a rebuild
    assert(cold.contains("stream_feats_ckpt") ||
      cold.contains("stream_feats_memo_hit"))
    assert(warm.contains("stream_feats_memo_hit") &&
      !warm.contains("stream_feats_ckpt"),
      s"repeat streamNearDupPairs rebuilt the corpus checkpoint: $warm")
    Memo.release(sf)
  }

  test("eventsRowCount: footer-exact, cached, and runs NO Spark job") {
    import graft.streaming.StreamingQueries
    // a fresh dir this JVM has never probed (the shared-session suites
    // may already have cached the standard sf dirs)
    val tmp = java.nio.file.Files.createTempDirectory("graft_evcount")
    spark.read.parquet(s"$sf/events.parquet").limit(777)
      .write.parquet(s"$tmp/events.parquet")
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      // listener delivery is async; quiesce the bus around the probe
      org.apache.spark.sql.GraftSqlBridge.waitForListeners(spark.sparkContext)
      val j0 = jobs.get()
      val n = StreamingQueries.eventsRowCount(spark, tmp.toString)
      org.apache.spark.sql.GraftSqlBridge.waitForListeners(spark.sparkContext)
      assert(n === 777L, s"footer count $n != written 777")
      assert(jobs.get() === j0,
        "eventsRowCount scheduled a Spark job — the probe must be a " +
          "driver-side footer read (ADVICE r14)")
      // cached on repeat
      assert(StreamingQueries.eventsRowCount(spark, tmp.toString) === 777L)
      // missing dir: logged fallback, returns 0, does not throw
      assert(StreamingQueries.eventsRowCount(spark,
        s"$tmp/definitely_missing") === 0L)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}

/** The stream partition cap: the fixed gate cap, never wider than the
  * session. (r15 shipped an ingest-proportional scale-out behind a conf
  * that stayed off: measured flat then worse on one box.)
  */
class StreamPartitionCapSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf
  import graft.streaming.StreamingQueries

  test("streamPartitionCap: the gate cap, bounded by session width") {
    assert(StreamingQueries.streamPartitionCap(32) === 4)
    assert(StreamingQueries.streamPartitionCap(4) === 4)
    // a session narrower than the gate cap keeps its width
    assert(StreamingQueries.streamPartitionCap(2) === 2)
  }

  test("the cap reaches the executed stream: q138 runs at the gate cap") {
    StreamingQueries.resetStateRows()
    SparkEntry.queries("q138_stream_dedup_near")(spark, sf).count()
    assert(StreamingQueries.lastNumShufflePartitions === 4L,
      s"gate-scale q138 left the fixed cap: ${StreamingQueries.lastNumShufflePartitions}")
  }
}
