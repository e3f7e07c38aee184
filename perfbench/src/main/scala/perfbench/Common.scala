package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Command-line arguments passed by `run.py`. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: String, warm: String, expected: Path, out: Path, work: Path)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("data"), m("warm"), Paths.get(m("expected")), Paths.get(m("out")),
      Paths.get(m("work")))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, and
    * that percentile. That is p90 or above from 100 samples on; with
    * fewer samples it would be a lower percentile, so the maximum
    * (percentile 100) is reported instead.
    */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (Double.NaN, Double.NaN)
    else if (xs.size < 100) (xs.max, 100.0)
    else {
      val s = xs.sorted
      (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
    }
}

/** The Spark session as the workloads run it: `local[N]` with N the
  * processors this JVM may use, graft's defaults otherwise.
  */
object Session {
  val cpus: Int = Runtime.getRuntime.availableProcessors()

  def build(work: Path, master: String = s"local[$cpus]"): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def settings(s: SparkSession): Map[String, String] =
    Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.session.timeZone", "spark.serializer", "spark.driver.memory")
      .map(k => k -> s.conf.getOption(k).orElse(s.sparkContext.getConf.getOption(k))
        .getOrElse("(default)")).toMap
}

/** Host and process readings that make walls attributable. */
object Host {
  /** (steal, iowait) seconds from the aggregate /proc/stat line. */
  def stealIowait(): (Double, Double) =
    scala.util.Try {
      val line = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      val v = line.trim.split("\\s+").drop(1).map(_.toLong)
      (v(7) / 100.0, v(4) / 100.0)
    }.getOrElse((0.0, 0.0))

  def processCpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  /** Peak resident set (`VmHWM`) of this JVM, in MB. */
  def peakRssMb(): Double =
    scala.util.Try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
        .getOrElse(Double.NaN)
    }.getOrElse(Double.NaN)

  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def env(s: SparkSession, a: Args): Map[String, Any] = Map(
    "cpus" -> Session.cpus,
    "seed" -> a.seed,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "spark" -> s.version,
    "session" -> Session.settings(s))
}

/** Micro-batch progress of every streaming query, with the time each
  * report reached the driver.
  */
final class StreamProgress extends StreamingQueryListener {
  val events = mutable.ArrayBuffer.empty[(Long, StreamingQueryProgress)]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      events += ((System.nanoTime(), e.progress))
      notifyAll()
    }
  def snapshot: Seq[(Long, StreamingQueryProgress)] = synchronized(events.toList)

  /** Progress reports of batches that read input. */
  def dataBatches: Seq[StreamingQueryProgress] =
    snapshot.map(_._2).filter(_.numInputRows > 0)
}

object StreamProgress {
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Per-layer streaming metrics over a set of progress reports. */
  def layer(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def med(f: StreamingQueryProgress => Double) =
      if (ps.isEmpty) 0.0 else Stats.median(ps.map(f))
    val trig = ps.map(dur(_, "triggerExecution"))
    val ops = ps.flatMap(_.stateOperators.toSeq)
    Map(
      "streaming.batches" -> ps.size.toDouble,
      "streaming.batch_p50_ms" -> (if (trig.isEmpty) 0.0 else Stats.median(trig)),
      "streaming.batch_tail_ms" -> (if (trig.isEmpty) 0.0 else Stats.tail(trig)._1),
      "streaming.planning_ms" -> med(dur(_, "queryPlanning")),
      "streaming.commit_ms" -> med(p => dur(p, "walCommit") + dur(p, "commitOffsets")),
      "streaming.offsets_ms" -> med(p => dur(p, "latestOffset") + dur(p, "getBatch")),
      "streaming.add_batch_ms" -> med(dur(_, "addBatch")),
      "streaming.state_rows" -> (if (ops.isEmpty) 0.0 else ops.map(_.numRowsTotal.toDouble).max),
      "streaming.state_bytes" -> (if (ops.isEmpty) 0.0 else ops.map(_.memoryUsedBytes.toDouble).max),
      "streaming.state_commit_ms" ->
        (if (ops.isEmpty) 0.0 else Stats.median(ops.map(_.commitTimeMs.toDouble))),
      "streaming.dropped_late" -> ops.map(_.numRowsDroppedByWatermark.toDouble).sum)
  }
}

/** What one workload run produces. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  val report = mutable.ArrayBuffer.empty[String]
  val env = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L

  def fail(what: String): Unit = { failed += 1; failures += what }

  def write(p: Path): Unit = {
    val body = Json.value(Map(
      "metrics" -> metrics, "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.toList, "report" -> report.toList, "env" -> env))
    Files.write(p, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
