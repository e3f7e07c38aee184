package perfbench

import java.nio.file.Path
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** The reference pipeline as an open loop: one generator thread appends
  * pre-built ticks of payment JSON on a fixed schedule to an in-process
  * MemoryStream, which feeds `KafkaPipeline.paymentRangeSum` (default
  * immediate emission, 15 s watermark) and `StreamingQueries.toJsonSink`
  * into a sink that collects each micro-batch on the driver.
  *
  * Every event of a tick carries the tick's due time as its event time,
  * so events are out of order only within a tick and each result is the
  * same however ticks group into micro-batches. A steady phase runs at a
  * fixed rate below capacity; a catch-up phase then queues a fixed
  * backlog at once.
  */
object Stream {
  val TickMs = 50L
  val EventsPerTick = 20
  /** The catch-up phase queues this many ticks at once, `Bursts` times. */
  val BacklogTicks = 1000
  val Bursts = 3
  val Provinces = 34
  val WindowTicks: Int = (10000L / TickMs).toInt
  /** Validity limits of the steady phase. A run past any of them was
    * over capacity or starved, and each one it misses counts as a failed
    * operation: the tail latency; how much the backlog may grow, from the
    * second quarter of the phase to the last (the first holds the start-up
    * of the query), in events; and how late the generator may append a
    * tick.
    */
  val TailLimitMs = 5000.0
  val BacklogGrowthLimit: Int = (1000L / TickMs).toInt * EventsPerTick
  val GeneratorLateLimitMs = 500.0
  private val BaseMs = java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli

  final case class Event(tick: Int, orderId: Long, cents: Long, platform: Int, province: Int)

  /** Seeded events: `ticks` ticks from `firstTick`, provinces Zipf-skewed. */
  def events(seed: Long, firstTick: Int, ticks: Int): Seq[Seq[Event]] = {
    val rnd = new scala.util.Random(seed)
    val weights = (1 to Provinces).map(k => 1.0 / math.pow(k, 1.1))
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    (firstTick until firstTick + ticks).map { t =>
      (0 until EventsPerTick).map { i =>
        val u = rnd.nextDouble()
        val province = cum.indexWhere(_ >= u) max 0
        Event(t, t.toLong * EventsPerTick + i, 100L + rnd.nextInt(99900), rnd.nextInt(2),
          province + 1)
      }
    }
  }

  private val Fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
    .withZone(java.time.ZoneOffset.UTC)

  def json(e: Event): String = {
    val ts = Fmt.format(java.time.Instant.ofEpochMilli(BaseMs + e.tick * TickMs))
    f"""{"createTime": "$ts", "orderId": ${e.orderId}, "payAmount": ${e.cents / 100}.${e.cents % 100}%02d, "payPlatform": ${e.platform}, "provinceId": ${e.province}}"""
  }

  /** Independent reference: for each event, the sum of its province's
    * amounts over events no more than 10 s older (same tick included),
    * in cents.
    */
  def reference(ticks: Seq[Seq[Event]]): Map[(Int, Long), Int] = {
    val byProvince = ticks.flatten.groupBy(_.province)
    val out = mutable.HashMap.empty[(Int, Long), Int]
    byProvince.foreach { case (p, es) =>
      val perTick = es.groupBy(_.tick).map { case (t, xs) => t -> (xs.map(_.cents).sum, xs.size) }
      val tickSorted = perTick.keys.toArray.sorted
      var lo = 0
      var hi = 0
      var sum = 0L
      tickSorted.foreach { t =>
        while (hi < tickSorted.length && tickSorted(hi) <= t) { sum += perTick(tickSorted(hi))._1; hi += 1 }
        while (tickSorted(lo) < t - WindowTicks) { sum -= perTick(tickSorted(lo))._1; lo += 1 }
        out((p, sum)) = out.getOrElse((p, sum), 0) + perTick(t)._2
      }
    }
    out.toMap
  }

  private val Result = """\{"province_id":(\d+),"pay_amount":([-0-9.Ee]+)\}""".r

  /** The running pipeline: input stream, query, and the collected sink. */
  final class Pipeline(spark: SparkSession, checkpoint: Path) {
    val input: MemoryStream[String] = MemoryStream[String](Encoders.STRING, spark)
    val sink = mutable.ArrayBuffer.empty[String]
    private val out = graft.streaming.KafkaPipeline.paymentRangeSum(spark, input.toDF())
    val query: StreamingQuery = graft.streaming.StreamingQueries.toJsonSink(out)
      .writeStream
      .option("checkpointLocation", checkpoint.toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.collect().map(_.getString(0))
        sink.synchronized(sink ++= rows)
        ()
      }
      .start()

    def results: Map[(Int, Long), Int] = sink.synchronized(sink.toList).map {
      case Result(p, v) => (p.toInt, math.round(v.toDouble * 100))
      case other => (-1, other.hashCode.toLong)
    }.groupBy(identity).map { case (k, v) => k -> v.size }
  }

  def offset(p: StreamingQueryProgress): Long =
    scala.util.Try(p.sources.head.endOffset.trim.toLong).getOrElse(-1L)

  private def awaitCommit(pipe: Pipeline, progress: StreamProgress, off: Long,
      timeoutMs: Long): Option[Long] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    progress.synchronized {
      def hit = progress.events.find(e => e._2.id == pipe.query.id && offset(e._2) >= off)
      while (hit.isEmpty && System.currentTimeMillis() < deadline && pipe.query.isActive)
        progress.wait(50L)
      hit.map(_._1)
    }
  }

  /** Warm-up: a short run of the same pipeline on its own inputs. */
  def warm(spark: SparkSession, seed: Long, work: Path, tag: String): Unit = {
    val progress = new StreamProgress
    spark.streams.addListener(progress)
    val pipe = new Pipeline(spark, work.resolve(s"ckpt-$tag"))
    val ticks = events(seed, 0, 40)
    ticks.take(20).foreach(t => pipe.input.addData(t.map(json)))
    pipe.input.addData(ticks.drop(20).flatten.map(json))
    awaitCommit(pipe, progress, 20, 60000L)
    pipe.query.stop()
    spark.streams.removeListener(progress)
  }

  /** Queues each backlog burst at once and waits for the commit that
    * includes it. Returns the median events per second over the bursts
    * and the seconds from queueing the first to the last commit.
    */
  private def catchUp(pipe: Pipeline, progress: StreamProgress,
      bursts: Seq[Seq[Seq[Event]]]): (Double, Double) = {
    val start = System.nanoTime()
    val eps = bursts.map { b =>
      val lines = b.flatten.map(json)
      val q0 = System.nanoTime()
      val off = pipe.input.addData(lines).json().trim.toLong
      awaitCommit(pipe, progress, off, 120000L)
        .map(t => lines.size / ((t - q0) / 1e9)).getOrElse(Double.NaN)
    }
    (Stats.median(eps), (System.nanoTime() - start) / 1e9)
  }

  def run(spark0: SparkSession, a: Args, res: Result, tracer: Tracer,
      counters: SparkCounters, progress: StreamProgress): SparkSession = {
    val steadyTicks = (a.seconds * 1000L / TickMs).toInt
    val steady = events(a.seed, 0, steadyTicks)
    val bursts = (0 until Bursts).map(i =>
      events(a.seed + 1 + i, steadyTicks + i * BacklogTicks, BacklogTicks))
    val pipe = new Pipeline(spark0, a.work.resolve("ckpt-timed"))
    val payloads = steady.map(_.map(json))
    val appendNs = new Array[Long](steadyTicks)
    val dueNs = new Array[Long](steadyTicks)

    val (steal0, iowait0) = Host.stealIowait()
    val cpu0 = Host.processCpuSeconds()
    val start = System.nanoTime() + 200L * 1000000L
    val generator = new Thread(() => {
      var k = 0
      while (k < steadyTicks) {
        dueNs(k) = start + k * TickMs * 1000000L
        var now = System.nanoTime()
        while (now < dueNs(k)) { LockSupport.parkNanos(dueNs(k) - now); now = System.nanoTime() }
        pipe.input.addData(payloads(k))
        appendNs(k) = System.nanoTime()
        k += 1
      }
    }, "perfbench-generator")
    generator.start()
    generator.join()
    val steadyDone = awaitCommit(pipe, progress, steadyTicks - 1, 120000L)
    val steadyPs = progress.snapshot.filter(_._2.id == pipe.query.id)
    val (eps, catchUpS) = catchUp(pipe, progress, bursts)
    val cpuS = Host.processCpuSeconds() - cpu0
    val (steal1, iowait1) = Host.stealIowait()
    pipe.query.stop()
    counters.drain(spark0.sparkContext, "perfbench-drain")
    val sparkTotals = counters.totals
    res.env ++= Map("steal_s" -> (steal1 - steal0), "iowait_s" -> (iowait1 - iowait0))

    // event-to-emit latency per steady tick: commit report of the first
    // batch whose end offset covers the tick, minus the tick's due time
    val commits = steadyPs.map(p => (offset(p._2), p._1)).sortBy(_._1)
    val latMs = (0 until steadyTicks).flatMap { k =>
      commits.find(_._1 >= k).map(c => (c._2 - dueNs(k)) / 1e6)
    }
    val (tail, pct) = Stats.tail(latMs)
    val timedPs = progress.snapshot.filter(_._2.id == pipe.query.id).map(_._2)
      .filter(_.numInputRows > 0)
    val trig = timedPs.map(StreamProgress.dur(_, "triggerExecution") / 1e3)
    val (qTail, _) = Stats.tail(trig)
    val lateMs = (0 until steadyTicks).map(k => (appendNs(k) - dueNs(k)) / 1e6)
    // backlog: events appended but not yet committed, at each append
    val backlog = (0 until steadyTicks).map { k =>
      val done = commits.takeWhile(_._2 <= appendNs(k)).lastOption.map(_._1).getOrElse(-1L)
      (k - done) * EventsPerTick
    }
    val quarter = math.max(1, steadyTicks / 4)
    val growth = backlog.takeRight(quarter).max - backlog.slice(quarter, 2 * quarter).max
    res.metrics ++= Map(
      "total_s" -> catchUpS,
      "query_p50_s" -> Stats.median(trig), "query_tail_s" -> qTail,
      "cpu_s" -> cpuS,
      "stream_p50_ms" -> Stats.median(latMs), "stream_tail_ms" -> tail,
      "stream_catchup_eps" -> eps)
    res.report += f"steady phase: $steadyTicks ticks of $EventsPerTick events every $TickMs ms; " +
      f"latency p50 ${Stats.median(latMs)}%.1f ms, tail p$pct%.1f $tail%.1f ms " +
      f"(limit $TailLimitMs%.0f ms); backlog max ${backlog.max} events, growth $growth " +
      f"(limit $BacklogGrowthLimit); generator late max ${lateMs.max}%.1f ms " +
      f"(limit $GeneratorLateLimitMs%.0f ms)"
    res.report += f"catch-up: $Bursts bursts of ${BacklogTicks * EventsPerTick} events " +
      f"queued at once, median $eps%.0f events/s, $catchUpS%.3f s in all"
    if (steadyDone.isEmpty) res.fail("steady phase: last tick never committed")
    if (!(tail <= TailLimitMs)) res.fail(f"steady phase: tail latency $tail%.1f ms over the limit")
    if (growth > BacklogGrowthLimit) res.fail(s"steady phase: backlog grew by $growth events")
    if (lateMs.max > GeneratorLateLimitMs)
      res.fail(f"steady phase: generator ran ${lateMs.max}%.1f ms late")

    // output check: every event's result equals the reference
    val ticks = steady ++ bursts.flatten
    res.attempted = ticks.map(_.size).sum.toLong
    val want = reference(ticks)
    val got = pipe.results
    val missing = want.map { case (k, n) => math.max(0, n - got.getOrElse(k, 0)) }.sum
    val extra = got.map { case (k, n) => math.max(0, n - want.getOrElse(k, 0)) }.sum
    if (missing + extra > 0) {
      res.failed += math.max(missing, extra)
      res.failures += s"stream_payments: $missing expected results missing, $extra unexpected"
    }

    if (!tracer.enabled) spark0
    else {
      // spans: each tick's append, each batch with its phases as children
      (0 until steadyTicks).foreach(k =>
        tracer.add("generator.append", 0, s"tick-$k", dueNs(k), appendNs(k)))
      progress.snapshot.filter(_._2.id == pipe.query.id).foreach { case (at, p) =>
        val trigNs = (StreamProgress.dur(p, "triggerExecution") * 1e6).toLong
        val b = tracer.add("streaming.batch", 0, s"batch-${p.batchId}", at - trigNs, at)
        var t = at - trigNs
        Seq("latestOffset", "queryPlanning", "getBatch", "walCommit", "addBatch", "commitOffsets")
          .foreach { k =>
            val d = (StreamProgress.dur(p, k) * 1e6).toLong
            tracer.add(s"streaming.$k", b, s"batch-${p.batchId}", t, t + d)
            t += d
          }
      }
      Spans.attachSpark(tracer, counters, tracer.all.filter(_.name.startsWith("streaming."))
        .map(x => (x.trace, x.id, x.startNs, x.endNs)))
      res.metrics ++= sparkTotals
      res.metrics ++= StreamProgress.layer(timedPs)
      res.metrics ++= Map(
        "streaming.backlog_max" -> backlog.max.toDouble,
        "streaming.generator_late_ms" -> lateMs.max)
      // single-thread baseline of the catch-up phase
      Session.stop(spark0)
      val local1 = Session.build(a.work, "local[1]")
      val p1 = new StreamProgress
      local1.streams.addListener(p1)
      val pipe1 = new Pipeline(local1, a.work.resolve("ckpt-local1"))
      res.metrics("streaming.catchup_eps_local1") = catchUp(pipe1, p1, bursts)._1
      res.report += f"catch-up at local[1]: ${res.metrics("streaming.catchup_eps_local1")}%.0f events/s"
      pipe1.query.stop()
      local1
    }
  }
}
