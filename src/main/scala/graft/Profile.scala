package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener
import java.util.regex.{Matcher, Pattern}

/** What a piece of code ran on a session, read from Spark's own events
  * rather than from hand-placed tags or a changed pipeline:
  *  - `actions`: every action (`localCheckpoint`, `count`, `collect`,
  *    a write's `command`, a stream's micro-batch write, ...) that
  *    completed on the session, with the executed plan it ran (AQE's
  *    final plan), its SQL metrics and its stages' task totals;
  *  - `jobs`: the number of jobs the scope started, RDD-API jobs
  *    included, and `tasks`, the task totals of all their stages;
  *  - `streams`: the final progress of each stream that reported one.
  *
  * A phase of a pipeline is named by its action and executed plan (as
  * docs/PLANS.md shows them), never by a tag placed in the pipeline.
  */
final case class Profile[T](value: T, actions: Seq[Profile.Action],
    jobs: Int, tasks: Profile.Tasks, streams: Seq[StreamingQueryProgress])

object Profile {

  /** Task totals of a set of stages. `firstFailure` is the first line
    * of the first failed task's reason; `reattempts` counts stage
    * attempts past the first (a resubmission recomputed work).
    */
  final case class Tasks(tasks: Long = 0, failed: Long = 0,
      firstFailure: String = "", reattempts: Long = 0, runMs: Long = 0,
      cpuNs: Long = 0, gcMs: Long = 0, shuffleReadBytes: Long = 0,
      shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
      inputBytes: Long = 0) {
    def +(o: Tasks): Tasks = Tasks(tasks + o.tasks, failed + o.failed,
      if (firstFailure.nonEmpty) firstFailure else o.firstFailure,
      reattempts + o.reattempts, runMs + o.runMs, cpuNs + o.cpuNs,
      gcMs + o.gcMs, shuffleReadBytes + o.shuffleReadBytes,
      shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
      inputBytes + o.inputBytes)
  }

  /** One completed action: Spark's action name, its query execution,
    * its wall duration and the task totals of the stages its jobs ran.
    */
  final case class Action(name: String, qe: QueryExecution,
      durationNs: Long, tasks: Tasks)

  /** Run `body` with the three listeners registered on `spark` for the
    * scope only; they are removed even when `body` throws. The scope
    * holds the events posted while `body` runs. Stages are
    * attributed to an action through their job's
    * `spark.sql.execution.id` (or its root id, so an action includes
    * the executions nested in it), matched to the action's
    * `QueryExecution` by the execution-end event that reports both.
    */
  def of[T](spark: SparkSession)(body: => T): Profile[T] = {
    val rec = new Recorder
    // events are delivered asynchronously, to the listeners registered
    // at delivery: drain what earlier work posted so it stays out
    GraftSqlBridge.waitForListeners(spark.sparkContext)
    spark.listenerManager.register(rec.sql)
    spark.sparkContext.addSparkListener(rec)
    spark.streams.addListener(rec.progress)
    try {
      val out = body
      GraftSqlBridge.waitForListeners(spark.sparkContext)
      rec.result(out)
    } finally {
      spark.streams.removeListener(rec.progress)
      spark.sparkContext.removeSparkListener(rec)
      spark.listenerManager.unregister(rec.sql)
    }
  }

  /** `explain("formatted")` without the JVM's running counters — plan
    * ids, expression ids, RDD ids, identity hashes and random UUIDs —
    * and without the source lines of RDD call sites (`localCheckpoint
    * at DedupQueries.scala`), with codegen and query-stage ids numbered
    * in plan order rather than in the order stages happened to run,
    * and with distinct-aggregate groups in name order, so a
    * regenerated audit (`graft.PlanAudit`, docs/PLANS.md) diffs only
    * where a plan changed.
    */
  private[graft] def explain(qe: QueryExecution): String = {
    val plan = qe.explainString(FormattedMode)
      .replaceAll(",? ?\\[plan_id=\\d+\\]", "")
      .replaceAll("#\\d+L?\\b", "")
      .replaceAll("RDD\\[\\d+\\]", "RDD")
      .replaceAll("( at [\\w$]+\\.(?:scala|java)):\\d+", "$1")
      .replaceAll("\\$\\$Lambda\\$?[\\d/x]*[0-9a-f]*@[0-9a-f]+", "\\$\\$Lambda")
      .replaceAll("(?<=[\\w$;])@[0-9a-f]{1,8}\\b", "")
      .replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "uuid")
    val ids = scala.collection.mutable.Map[(Char, String), Int]()
    sortDistinctGroups("(\\[codegen id : |QueryStage\n(?:Output[^\n]*\n)?Arguments: )(\\d+)".r
      .replaceAllIn(plan, m => Matcher.quoteReplacement(m.group(1) + ids.getOrElseUpdate(
        (m.group(1).head, m.group(2)), ids.keys.count(_._1 == m.group(1).head) + 1))))
  }

  /** Spark's distinct-aggregate rewrite (an `Expand` that tags each
    * row with a `gid`) orders its distinct groups by hashes of
    * expression ids, which differ per JVM. With one column per group,
    * put the groups in column-name order: renumber `gid` and reorder
    * the group columns in the `Expand` and in every list after it.
    * Other shapes are left as they are.
    */
  private[graft] def sortDistinctGroups(plan: String): String = {
    val expandArgs = "(?m)^Arguments: \\[\\[(.*)\\]\\], \\[(.*, gid\\b.*)\\]$".r
    expandArgs.findFirstMatchIn(plan).fold(plan) { m =>
      val projs = m.group(1).split("\\], \\[").toSeq.map(_.split(", ").toSeq)
      val out = m.group(2).split(", ").toSeq
      // the column gid j adds: the one slot projection j fills and gid 0's
      // leaves null; Spark lays the groups' columns out in gid order
      lazy val slots = projs.tail.map(p => out.indices.filter(i => p(i) != "null" && projs.head(i) == "null"))
      if (projs.exists(_.size != out.size) || slots.exists(_.size != 1)) plan else {
        val cols = slots.map(s => out(s.head))
        val sorted = cols.sorted
        val expand = (projs.head +: projs.tail.zip(slots).zip(sorted).map {
          case ((p, s), c) => p.updated(s.head, c) }).map(_.mkString("[", ", ", "]"))
        val run = cols.map(c => s"((?:[^,\\[\\]]*? AS )?${Pattern.quote(c)})")
          .mkString("(?<=[\\[(]|, )", ", ", "(?=[,\\])])").r
        val rest = run.replaceAllIn(s"[${m.group(2)}]${plan.substring(m.end)}", r =>
          Matcher.quoteReplacement(sorted.map(c => r.group(cols.indexOf(c) + 1)).mkString(", ")))
        plan.substring(0, m.start) + expand.mkString("Arguments: [", ", ", "], ") +
          "\\(gid = ([1-9]\\d*)\\)".r.replaceAllIn(rest,
            r => cols.lift(r.group(1).toInt - 1).fold(r.matched)(c => s"(gid = ${sorted.indexOf(c) + 1})"))
      }
    }
  }

  private final class Recorder extends SparkListener {
    private val done = scala.collection.mutable.ArrayBuffer[(String, QueryExecution, Long)]()
    private var jobs = 0
    // per stage, in first-seen order: the execution ids of its job
    // (own, root) and its task totals
    private val stages = scala.collection.mutable.LinkedHashMap[Int, (Set[Long], Tasks)]()
    private val executionIds = new java.util.IdentityHashMap[QueryExecution, java.lang.Long]()
    private val last = scala.collection.mutable.LinkedHashMap[java.util.UUID, StreamingQueryProgress]()

    val sql: QueryExecutionListener = new QueryExecutionListener {
      def onSuccess(name: String, qe: QueryExecution, durationNs: Long): Unit =
        Recorder.this.synchronized(done += ((name, qe, durationNs)))
      def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }

    val progress: StreamingQueryListener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Recorder.this.synchronized(last(e.progress.id) = e.progress)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }

    private def stage(id: Int)(f: Tasks => Tasks): Unit = synchronized {
      val (ids, t) = stages.getOrElse(id, (Set.empty[Long], Tasks()))
      stages(id) = (ids, f(t))
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      val ids = Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
        .flatMap(k => Option(e.properties).flatMap(p => Option(p.getProperty(k))))
        .map(_.toLong).toSet
      e.stageIds.foreach(id => stages(id) = (ids, stages.get(id).fold(Tasks())(_._2)))
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        Option(GraftSqlBridge.queryExecution(end))
          .foreach(qe => synchronized(executionIds.put(qe, end.executionId)))
      case _ => ()
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (e.stageInfo.attemptNumber() > 0)
        stage(e.stageInfo.stageId)(t => t.copy(reattempts = t.reattempts + 1))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stage(e.stageId) { t =>
      val failure =
        if (e.reason == org.apache.spark.Success) ""
        else e.reason.toString.linesIterator.take(1).mkString.take(200)
      t + Option(e.taskMetrics).fold(Tasks(tasks = 1)) { m =>
        Tasks(1, 0, "", 0, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead)
      }.copy(failed = if (failure.isEmpty) 0 else 1, firstFailure = failure)
    }

    def result[T](value: T): Profile[T] = synchronized {
      def totals(keep: Set[Long] => Boolean) =
        stages.values.collect { case (ids, t) if keep(ids) => t }
          .foldLeft(Tasks())(_ + _)
      Profile(value,
        done.toSeq.map { case (name, qe, ns) =>
          val id = Option(executionIds.get(qe)).map(_.longValue)
          Action(name, qe, ns, totals(ids => id.exists(ids.contains)))
        },
        jobs, totals(_ => true), last.values.toSeq)
    }
  }
}
