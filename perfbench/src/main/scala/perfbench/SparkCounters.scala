package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Spark's own task, stage, job and block counters, collected from the
  * listener bus over the timed window.
  */
final class SparkCounters extends SparkListener {
  import SparkCounters._
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAgg]
  val stageRecs = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  var stageRetries = 0L
  private val blocks = mutable.HashMap.empty[String, Long]
  private var persisted = 0L
  var persistedPeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, e.time, g, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    notifyAll()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    if (i.attemptNumber() > 0) stageRetries += 1
    stageRecs((i.stageId, i.attemptNumber())) = StageRec(i.stageId,
      i.attemptNumber(), i.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageRecs.get((i.stageId, i.attemptNumber())).foreach(
      _.endMs = i.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
    val info = e.taskInfo
    a.tasks += 1
    if (e.reason != Success) a.failed += 1
    val dur = info.finishTime - info.launchTime
    a.durations += dur
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      val sched = dur - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      a.waitMs += math.max(0L, sched) + m.executorDeserializeTime
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      persisted += size - blocks.getOrElse(b.blockId.name, 0L)
      if (size > 0) blocks(b.blockId.name) = size else blocks.remove(b.blockId.name)
      persistedPeak = math.max(persistedPeak, persisted)
    }
  }

  /** Blocks until every event posted before this call has been
    * delivered: runs a marker job and waits for its end event, which
    * the bus delivers after all earlier ones.
    */
  def drain(sc: SparkContext, marker: String): Unit = {
    sc.setJobGroup(marker, marker)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000L
    synchronized {
      while (!jobs.values.exists(j => j.group == marker && j.endMs >= 0) &&
          System.currentTimeMillis() < deadline)
        wait(100L)
      val markerStages = jobs.values.filter(_.group == marker).flatMap(_.stageIds).toSet
      jobs.filterInPlace((_, j) => j.group != marker)
      stages.filterInPlace((k, _) => !markerStages(k._1))
      stageRecs.filterInPlace((k, _) => !markerStages(k._1))
    }
  }

  /** Sums over every stage attempt recorded. */
  def totals: Map[String, Double] = synchronized {
    val ss = stages.values
    def sum(f: StageAgg => Long) = ss.map(f).sum.toDouble
    val widest = ss.filter(_.durations.nonEmpty).toSeq.sortBy(-_.durations.size).headOption
    val skew = widest.map { a =>
      val d = a.durations.sorted
      val med = math.max(1L, d(d.size / 2))
      d.last.toDouble / med
    }.getOrElse(1.0)
    Map(
      "spark.stages" -> stageRecs.size.toDouble,
      "spark.tasks" -> sum(_.tasks),
      "spark.task_wait_s" -> sum(_.waitMs) / 1e3,
      "spark.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "spark.task_run_s" -> sum(_.runMs) / 1e3,
      "spark.gc_s" -> sum(_.gcMs) / 1e3,
      "spark.shuffle_write_bytes" -> sum(_.shuffleWrite),
      "spark.shuffle_read_bytes" -> sum(_.shuffleRead),
      "spark.shuffle_fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
      "spark.spill_bytes" -> sum(_.spill),
      "spark.task_skew" -> skew,
      "spark.peak_exec_mem_bytes" -> ss.map(_.peakMem).foldLeft(0L)(math.max).toDouble,
      "spark.persisted_peak_bytes" -> persistedPeak.toDouble,
      "spark.failed_tasks" -> sum(_.failed),
      "spark.stage_retries" -> stageRetries.toDouble,
      "tables.bytes_read" -> sum(_.inBytes),
      "tables.rows_read" -> sum(_.inRecords))
  }

  /** [[totals]] per pass of a run that made `passes` like passes: sums
    * divided by the passes, maxima and ratios as they are.
    */
  def perPass(passes: Int): Map[String, Double] = {
    val peaks = Set("spark.task_skew", "spark.peak_exec_mem_bytes", "spark.persisted_peak_bytes")
    totals.map { case (k, v) => k -> (if (peaks(k)) v else v / passes) }
  }

  def jobList: Seq[JobRec] = synchronized(jobs.values.toList)
  def stageList: Seq[StageRec] = synchronized(stageRecs.values.toList)
}

object SparkCounters {
  final class StageAgg {
    var tasks = 0L; var failed = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var waitMs = 0L
    var inBytes = 0L; var inRecords = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
    var spill = 0L; var peakMem = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  final case class JobRec(id: Int, submitMs: Long, group: String,
      stageIds: Seq[Int], var endMs: Long = -1L)
  final case class StageRec(id: Int, attempt: Int, submitMs: Long,
      var endMs: Long = -1L)
}
