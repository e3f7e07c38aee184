package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Direct-evidence closures for the four ADVICE r14 items:
  *  1. the sliced verify frees ONLY its own checkpoints (thread-local
  *     collector, not a context-global registry diff);
  *  2. Bench's per-query failure attribution is per-window (a later
  *     failing query no longer inherits the first failure's reason:
  *     each query's scheduler totals come from its own Profile);
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
    // Bench's per-query sched entry is its query's Profile: a scope
    // reports the first task failure inside it, never an earlier one
    def failing(why: String) = Profile.of(spark)(scala.util.Try(
      spark.range(4).selectExpr(s"assert_true(id < 0, '$why')").collect()))
    val a = failing("query A failed")
    assert(a.value.isFailure)
    assert(a.tasks.failed > 0)
    assert(a.tasks.firstFailure.contains("query A failed"), a.tasks.firstFailure)
    val ok = Profile.of(spark)(spark.range(4).count())
    assert(ok.tasks.failed === 0 && ok.tasks.firstFailure.isEmpty)
    val b = failing("query B failed")
    assert(b.tasks.firstFailure.contains("query B failed"),
      s"window failure '${b.tasks.firstFailure}' is not this window's " +
        "first failure (a once-per-JVM slot would report query A's " +
        "reason for query B)")
  }

  test("q138/q139 corpus feature checkpoint is memoized per dir " +
      "(one block set, fingerprint-guarded)") {
    import graft.streaming.StreamingQueries
    Memo.release(sf)
    val cold = Profile.of(spark)(StreamingQueries.streamFeats(spark, sf))
    assert(cold.actions.map(_.name) === Seq("localCheckpoint"))
    val warm = Profile.of(spark)(StreamingQueries.streamFeats(spark, sf))
    // the second call is a memo hit: the same checkpoint, no job
    assert(warm.value eq cold.value,
      "repeat streamFeats rebuilt the corpus checkpoint")
    assert(warm.jobs === 0)
    Memo.release(sf)
  }

  test("eventsRowCount: footer-exact, cached, and runs NO Spark job") {
    import graft.streaming.StreamingQueries
    // a fresh dir this JVM has never probed (the shared-session suites
    // may already have cached the standard sf dirs)
    val tmp = java.nio.file.Files.createTempDirectory("graft_evcount")
    spark.read.parquet(s"$sf/events.parquet").limit(777)
      .write.parquet(s"$tmp/events.parquet")
    val probe = Profile.of(spark)(StreamingQueries.eventsRowCount(spark, tmp.toString))
    assert(probe.value === 777L, s"footer count ${probe.value} != written 777")
    assert(probe.jobs === 0,
      "eventsRowCount scheduled a Spark job — the probe must be a " +
        "driver-side footer read (ADVICE r14)")
    // the same count on repeat
    assert(StreamingQueries.eventsRowCount(spark, tmp.toString) === 777L)
    // missing dir: logged fallback, returns 0, does not throw
    assert(StreamingQueries.eventsRowCount(spark,
      s"$tmp/definitely_missing") === 0L)
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
    val p = Profile.of(spark)(
      SparkEntry.queries("q138_stream_dedup_near")(spark, sf).count())
    val parts = p.streams.flatMap(_.stateOperators).map(_.numShufflePartitions)
    assert(parts.nonEmpty && parts.forall(_ == 4L),
      s"gate-scale q138 left the fixed cap: $parts")
  }
}
