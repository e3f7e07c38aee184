package graft

import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreSaveExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** [[Profile]] reads what a scope ran from Spark's own events (query
  * executions, jobs and tasks, stream progress) and leaves the
  * session's listeners as it found them.
  */
class ProfileSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  test("a scope leaves the session's query listeners unchanged, also when its body throws") {
    import org.apache.spark.sql.GraftTestBridge.{queryListeners, sparkListeners}
    def listeners = (queryListeners(spark), sparkListeners(spark),
      spark.streams.listListeners().toSeq)
    // the first registration on a session makes Spark add its own
    // query-execution and stream listener buses, which it keeps
    Profile.of(spark)(())
    val before = listeners
    val p = Profile.of(spark)(spark.range(10).count())
    assert(p.value === 10L)
    assert(p.actions.map(_.name) === Seq("count"))
    assert(listeners === before)
    val e = intercept[IllegalStateException](
      Profile.of(spark)(throw new IllegalStateException("body failed")))
    assert(e.getMessage === "body failed")
    assert(listeners === before)
  }

  test("an action carries the task totals of its own jobs; the scope counts every job") {
    val df = spark.range(0, 1000, 1, 4).toDF("x")
    val p = Profile.of(spark) {
      df.localCheckpoint()
      spark.sparkContext.parallelize(1 to 10, 3).count() // an RDD-API job
    }
    val ckpt = p.actions.filter(_.name == "localCheckpoint")
    assert(ckpt.size === 1)
    assert(ckpt.head.tasks.tasks === 4L, ckpt.head.tasks)
    assert(ckpt.head.tasks.failed === 0L)
    assert(p.jobs === 2)
    assert(p.tasks.tasks === 7L, p.tasks)
  }

  test("q20's window is computed over every event in the materialized plan") {
    val events = Tables.events(spark, sf).count()
    val actions = Profile.of(spark)(
      Bench.materialize(SparkEntry.queries("q20_window_range")(spark, sf))).actions
    // Spark's WindowExec carries no row metric (only spill size); the
    // rows it emits are the rows the exchange above it writes, through
    // operators that neither drop nor add rows.
    def windowBelow(p: SparkPlan): Boolean = p match {
      case _: WindowExec => true
      case _: ProjectExec | _: WholeStageCodegenExec | _: InputAdapter =>
        windowBelow(p.children.head)
      case _ => false
    }
    val above = actions.flatMap(a => collect(a.qe.executedPlan) {
      case e: ShuffleExchangeExec if windowBelow(e.child) => e
    })
    assert(actions.exists(a => find(a.qe.executedPlan)(_.isInstanceOf[WindowExec]).isDefined),
      s"no Window operator in the executed plans of ${actions.map(_.name)}")
    assert(above.size === 1, s"expected one exchange above the Window: $above")
    assert(above.head.metrics("shuffleRecordsWritten").value === events)
    assert(events > 0)
  }

  test("a stream drained inside a scope reports its final progress and micro-batch writes, and is stopped") {
    val p = Profile.of(spark)(SparkEntry.queries("q28_stream_tumble")(spark, sf).count())
    assert(p.value > 0L)
    assert(p.streams.size === 1, p.streams.map(_.json))
    val last = p.streams.head
    assert(last.batchId >= 0L, "no batch ran")
    assert(last.stateOperators.nonEmpty && last.stateOperators.map(_.numRowsTotal).sum > 0L,
      s"no state rows in the final progress: ${last.json}")
    // every micro-batch (each carries the whole state in Complete mode)
    // is a localCheckpoint action running the stream's stateful plan,
    // with the batch's tasks
    val batches = p.actions.filter(a => a.name == "localCheckpoint" &&
      collect(a.qe.executedPlan) { case w: StateStoreSaveExec => w }.nonEmpty)
    assert(batches.size === last.batchId + 1, s"micro-batch writes: ${p.actions.map(_.name)}")
    assert(batches.forall(_.tasks.tasks > 0), batches.map(_.tasks))
    val ids = p.streams.map(_.id).toSet
    assert(!spark.streams.active.exists(q => ids.contains(q.id)),
      "a stream started in the scope is still active after it")
  }

  test("q138 over a part-file documents directory: its actions hold every task of the scope") {
    // the layout a replicated stress dir has: documents.parquet is a
    // Spark-written directory of part files, every other table as in sf
    val dir = java.nio.file.Files.createTempDirectory("graft_q138_dir")
    new java.io.File(sf).listFiles().filter(_.getName.endsWith(".parquet"))
      .filterNot(_.getName == "documents.parquet")
      .foreach(f => java.nio.file.Files.createSymbolicLink(dir.resolve(f.getName), f.toPath))
    spark.read.parquet(s"$sf/documents.parquet").repartition(2)
      .write.parquet(dir.resolve("documents.parquet").toString)
    try {
      val p = Profile.of(spark)(
        SparkEntry.queries("q138_stream_dedup_near")(spark, dir.toString).count())
      assert(p.value > 0L)
      val credited = p.actions.map(_.tasks.tasks).sum
      assert(credited === p.tasks.tasks,
        s"actions ${p.actions.map(a => a.name -> a.tasks.tasks)} hold $credited of " +
          s"the scope's ${p.tasks.tasks} tasks (${p.jobs} jobs)")
    } finally Memo.release(dir.toString)
  }
}
