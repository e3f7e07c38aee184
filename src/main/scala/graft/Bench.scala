package graft
import org.apache.spark.sql.DataFrame
object Bench {

  /** Host CPU accounting from /proc/stat (jiffies, summed over all
    * CPUs): (busy = user+nice+system+irq+softirq, idle, iowait,
    * steal). STEAL is the smoking gun for the r2–r6 driver-bench
    * bimodality candidates: a uniformly ~2× run where per-query JVM
    * CPU matches a clean run but steal jumped means the HOST took the
    * cycles — not a plan or code regression. None off-Linux.
    */
  private[graft] def procStat(): Option[(Long, Long, Long, Long)] =
    scala.util.Try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val v = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
        (v(0) + v(1) + v(2) + v(5) + v(6), v(3), v(4), v(7))
      } finally f.close()
    }.toOption

  /** Other live graft processes on this host — the round-close fence
    * (VERDICT r15 #2): BENCH_r15 was taken while a detached ×2048
    * probe chain ran at 4+ cores, and q133's official reading tripled
    * with identical task counts. The bench cannot refuse to run (the
    * driver owns the round close), so it makes contamination
    * UNDENIABLE inside the artifact: the env block records every
    * concurrent graft JVM (a /proc cmdline scan for `graft.` mains
    * and `probe_chain*.sh` wrappers, ancestors of this JVM excluded)
    * at both window edges, and a loud stderr banner fires at start.
    * An empty list in BENCH_r{N} IS the "zero concurrent graft JVMs"
    * assertion; a non-empty one names the contaminator.
    */
  private[graft] def concurrentGraftJvms(): Seq[String] = {
    import scala.jdk.OptionConverters._
    val excluded = {
      val s = scala.collection.mutable.Set[Long]()
      var p: Option[ProcessHandle] = Some(ProcessHandle.current())
      while (p.isDefined) { s += p.get.pid(); p = p.get.parent().toScala }
      s.toSet
    }
    Option(new java.io.File("/proc").listFiles()).getOrElse(Array.empty)
      .toSeq
      .filter(f => f.isDirectory && f.getName.forall(_.isDigit))
      .filterNot(f => excluded.contains(f.getName.toLong))
      .flatMap { d =>
        scala.util.Try {
          new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(d.getPath, "cmdline")))
            .split("\u0000").toSeq.filter(_.nonEmpty)
        }.toOption.flatMap { args =>
          val head = args.headOption.getOrElse("")
          val isGraftJvm = head.contains("java") &&
            args.exists(a => a.contains("graft.") &&
              !a.startsWith("-")) // a runMain arg, not a JVM flag
          // the chain wrapper itself (bash target/probe_chainN.sh) —
          // exact-arg match so transient shells QUOTING the name
          // (greps, editors) don't false-positive
          val isChainWrapper = head.endsWith("sh") && args.lengthCompare(3) <= 0 &&
            args.exists(a => a.contains("probe_chain") && a.endsWith(".sh"))
          if (isGraftJvm || isChainWrapper)
            Some(s"pid=${d.getName}:" +
              args.mkString(" ").replace('"', '\'').take(140))
          else None
        }
      }
  }

  /** Native-thread CPU by class from /proc/self/task (jiffies →
    * seconds at HZ=100), attributing PROCESS CPU that the MXBeans
    * can't see: G1's concurrent mark/refine workers and the GC
    * worker pool are native VM threads invisible to ThreadMXBean, and
    * getCollectionTime counts only STW pause WALL time — a
    * concurrent-GC burn (heap-pressure episodes under the memory
    * store) shows up ONLY here. Classes: gc (GC Thread / G1 *), jit
    * (C1/C2 compiler), exec (executor task threads), other.
    */
  private[graft] def threadCpuByClass(): Map[String, Long] = {
    val out = scala.collection.mutable.Map[String, Long]()
      .withDefaultValue(0L)
    val tasks = Option(new java.io.File("/proc/self/task").listFiles())
      .getOrElse(Array.empty[java.io.File])
    tasks.foreach { t =>
      try {
        val comm = {
          val src = scala.io.Source.fromFile(new java.io.File(t, "comm"))
          try src.mkString.trim finally src.close()
        }
        val stat = {
          val src = scala.io.Source.fromFile(new java.io.File(t, "stat"))
          try src.mkString finally src.close()
        }
        // fields after the ')' closing comm (comm itself may hold
        // spaces): state is index 0, utime 11, stime 12
        val rest = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
        val jiffies = rest(11).toLong + rest(12).toLong
        val cls =
          if (comm.startsWith("GC Thread") || comm.startsWith("G1 ") ||
            comm.startsWith("VM Thread")) "gc"
          else if (comm.contains("Compiler")) "jit"
          else if (comm.startsWith("Executor task")) "exec"
          else "other"
        out(cls) += jiffies
      } catch { case _: Exception => () }
    }
    out.toMap
  }

  /** JVM-wide counters: (process CPU ns, GC ms, JIT compile ms). */
  private def jvmStat(): (Long, Long, Long) = {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    val cpu = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    (cpu, gc, jit)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Conf.sfDir
    val spark = SparkEntry.localSession(Conf.cpus,
      // bound per-query metadata retention: 50+ queries in one session
      // otherwise accumulate listener/state backlog that taxes later,
      // shuffle-stage-heavy queries
      "spark.sql.ui.retainedExecutions" -> "5",
      "spark.ui.retainedJobs" -> "50",
      "spark.ui.retainedStages" -> "100",
      // compress persisted serialized/DISK_ONLY blocks (cf. ScaleStress:
      // at xR the dedup pair/bucket checkpoints are the scratch-disk
      // volume; lz4 shrinks the highly-redundant blocks several-fold)
      "spark.rdd.compress" -> "true")
    // Session confs for A/B bench runs (see Conf.applyConfEnv); every
    // query, the dedup pipelines included, plans on this session.
    Conf.applyConfEnv(spark)
    // optional local-iteration subset (driver runs the full set)
    val only = Conf.only
    // Untimed warmup: first query otherwise pays one-off JVM/JIT,
    // codegen-compiler and parquet-reader init (~3 s measured on
    // q01) — session setup cost, not query cost. The tokens-regex
    // chain JIT is the same class of one-off (~7 s measured on the
    // first text/dedup query), so warm it on a small slice too.
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    locally {
      import org.apache.spark.sql.functions._
      spark.read.parquet(s"$sfDir/documents.parquet")
        .limit(64)
        .select(graft.functions.TextFunctions.tokens(col("text")).as("t"))
        .select(sum(size(col("t")))).collect()
    }
    // Same class of one-off for the two remaining cold-start families
    // (r8, the BENCH_r07 residue): the dedup pipeline (shingle +
    // 128-perm MinHash + band/bucket/verify operators) and the
    // iterative-loop machinery (interpreted expression eval, observe
    // metrics, localCheckpoint) otherwise JIT inside the FIRST query
    // that touches them — q102, second in suite order, was carrying
    // the whole family's compile time in its score. 64 docs / a
    // 50-node graph keep each warmup sub-second.
    // Warmups must never fail the bench: a throw here would abort
    // main() before the query loop, losing the per-query errors map
    // AND the parse-proof summary/artifact — the same failure inside
    // a timed query is caught per-query. Each family warms
    // independently; a skipped warmup costs its first timed query
    // some JIT, nothing else.
    def warm(tag: String)(body: => Unit): Unit =
      scala.util.Try(body).failed.foreach(e =>
        System.err.println(s"[bench] $tag warmup skipped: ${e.getMessage}"))
    warm("dedup") {
      import org.apache.spark.sql.functions._
      // the real dedup pipeline; 64 docs never touch the per-dir pair
      // stage, so the timed q35/q102 still do their full work
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .limit(64).select(col("doc_id"), col("text"))
      graft.queries.DedupQueries.minHashPairs(docs).count()
    }
    warm("loop") {
      import org.apache.spark.sql.functions._
      val half = spark.range(0, 200)
        .selectExpr("id % 50 AS src", "(id * 7 + 1) % 50 AS dst")
        .filter(col("src") =!= col("dst"))
      val sym = half.union(half.select(col("dst"), col("src")))
      graft.queries.GraphQueries.integerPageRank(sym, iters = 2).count()
      graft.queries.ConnectedComponents.labelsFor(
        half.select(col("src").as("a"), col("dst").as("b"))).count()
      // q133's EDGE-GENERATION shape (collect_set → double explode →
      // hash dedup) is upstream of integerPageRank and otherwise JITs
      // inside its first census action — the one q133 stage that still
      // inflated >2× on the r8 driver host
      spark.range(0, 200)
        .selectExpr("id % 40 AS k", "id % 7 AS v")
        .groupBy(col("k")).agg(collect_set(col("v")).as("vs"))
        .select(explode(col("vs")).as("a"), col("vs"))
        .select(col("a"), explode(col("vs")).as("b"))
        .filter(col("a") =!= col("b"))
        .dropDuplicates("a", "b")
        .count()
    }
    // Streaming-machinery warmup (same one-off class): the micro-batch
    // planner, FileStreamSource listing, state-store setup/commit, the
    // stateful-agg and symmetric-hash stream-join operators otherwise
    // JIT inside the FIRST stream queries in suite order — in the r7
    // driver run the whole family ran 25-40% over its clean-host
    // numbers. A 64-row slice of the real events table driven through
    // the REAL q28 (windowed stateful agg) and q57 (stream-stream
    // join) entry points warms both operator families sub-second and
    // touches no timed query's inputs or caches.
    warm("stream") {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream_warm")
      val sliceDir = tmp.resolve("slice")
      spark.read.parquet(s"$sfDir/events.parquet").limit(64)
        .coalesce(1).write.parquet(sliceDir.toString)
      sliceDir.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).foreach { p =>
          java.nio.file.Files.copy(p.toPath, tmp.resolve("events.parquet"))
          graft.streaming.StreamingQueries.q28(spark, tmp.toString).count()
          graft.streaming.StreamingQueries.q57(spark, tmp.toString).count()
        }
    }
    val errors = scala.collection.mutable.Map[String, String]()
    val stat0 = procStat()
    // round-close fence (VERDICT r15 #2): see [[concurrentGraftJvms]]
    val fence0 = concurrentGraftJvms()
    if (fence0.nonEmpty) {
      System.err.println("=" * 72)
      System.err.println("[bench] WARNING: CONCURRENT GRAFT PROCESSES - " +
        "this window is CONTAMINATED; per-query walls are not clean:")
      fence0.foreach(p => System.err.println(s"[bench]   $p"))
      System.err.println("=" * 72)
    }
    val jvm0 = jvmStat()
    // Per-query JVM CPU seconds, reported next to wall seconds in the
    // full JSON: an environment-inflated run (host steal / scheduling)
    // shows wall ≫ cpu with cpu matching a clean run's; a genuine
    // regression inflates cpu too.
    val cpuSec = scala.collection.mutable.Map[String, Double]()
    // Per-query Spark evidence, read from the query's Profile: each
    // action's (name, wall, task CPU) under "stages", and the
    // scheduler totals under "sched" (tasks, failed tasks, stage
    // re-attempts, task run s, task CPU s, first failure reason):
    // nonzero failed/re-attempts means work was recomputed.
    val stages = scala.collection.mutable.Map[String, Seq[(String, Double, Double)]]()
    val schedQ = scala.collection.mutable.Map[String, Profile.Tasks]()
    // per-query native-thread CPU seconds by class (gc/jit/exec/other)
    val threadQ = scala.collection.mutable.Map[String, Map[String, Double]]()
    // toSeq.sortBy: fixed execution order + per-query progress on
    // stderr (stdout stays JSON-only for the driver)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      val th0 = threadCpuByClass()
      // the wall and CPU windows close before the profile drains the
      // listener bus
      val profile = Profile.of(spark) {
        val c0 = jvmStat()._1
        val t0 = System.nanoTime()
        try materialize(fn(spark, sfDir))
        catch {
          // A crashed query must be visible as a crash, not a timing:
          // record it in `errors` (the JSON carries both maps).
          case e: Throwable =>
            errors(name) = s"${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").linesIterator.take(1)
                .mkString.take(160)
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val c1 = jvmStat()._1
        if (c0 >= 0 && c1 >= 0) cpuSec(name) = (c1 - c0) / 1e9
        dt
      }
      val dt = profile.value
      // names and numbers only: a held QueryExecution would pin its
      // plan's checkpoint blocks for the rest of the run
      stages(name) = profile.actions.map(a =>
        (a.name, a.durationNs / 1e9, a.tasks.cpuNs / 1e9))
      schedQ(name) = profile.tasks
      val th1 = threadCpuByClass()
      threadQ(name) = (th0.keySet ++ th1.keySet).map { k =>
        k -> math.max(0L,
          th1.getOrElse(k, 0L) - th0.getOrElse(k, 0L)) / 100.0
      }.toMap
      System.err.println(f"[bench] $name%-24s $dt%8.2f s" +
        (if (errors.contains(name)) s"  ERROR ${errors(name)}" else ""))
      spark.catalog.clearCache()
      System.gc() // stable baseline between queries (one shared session)
      name -> dt
    }.toMap
    val qs = wallMap(results)
    val errs = strMap(errors.toMap)
    val total = jnum(results.values.sum)
    // Environment evidence for the suite: host steal/iowait (all-CPU
    // jiffies → seconds at HZ=100), JVM process CPU, GC and JIT time.
    // Reading: wall total ≫ proc_cpu-justified with steal_s high ⇒
    // host contention, not a regression; gc_s or jit_s high ⇒ the JVM
    // itself, attributable; all low with wall high ⇒ look at iowait.
    val jvm1 = jvmStat()
    val env = {
      val host = (stat0, procStat()) match {
        case (Some((b0, i0, w0, s0)), Some((b1, i1, w1, s1))) =>
          f""""host_busy_s":${(b1 - b0) / 100.0}%.1f,"host_idle_s":${(i1 - i0) / 100.0}%.1f,"iowait_s":${(w1 - w0) / 100.0}%.1f,"steal_s":${(s1 - s0) / 100.0}%.1f,"""
        case _ => ""
      }
      val cpu = if (jvm0._1 >= 0 && jvm1._1 >= 0)
        f""""proc_cpu_s":${(jvm1._1 - jvm0._1) / 1e9}%.1f,""" else ""
      // the fence assertion lives IN the artifact: empty arrays at
      // both window edges = zero concurrent graft JVMs during bench
      val fence1 = concurrentGraftJvms()
      val fence = s""""concurrent_graft_start":${
        fence0.map(jstr).mkString("[", ",", "]")},"concurrent_graft_end":${
        fence1.map(jstr).mkString("[", ",", "]")},"""
      s"""{$fence$host$cpu"gc_s":${(jvm1._2 - jvm0._2) / 1000.0},"jit_s":${(jvm1._3 - jvm0._3) / 1000.0}}"""
    }
    val cpuQs = cpuSec.toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + jnum(v, "%.3f") }.mkString("{", ",", "}")
    // per-action attribution: {"q":[["action",wall_s,task_cpu_s],...]}
    val stageQs = stages.toSeq.sortBy(_._1)
      .map { case (q, as) =>
        jstr(q) + ":" + as.map { case (a, wall, cpu) =>
          s"[${jstr(a)},${f"$wall%.3f"},${f"$cpu%.3f"}]" }
          .mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    // scheduler evidence: {"q":[tasks,failed,stage_reattempts,
    // exec_run_s,exec_cpu_s,"first failure reason"]}
    val schedJs = schedQ.toSeq.sortBy(_._1)
      .map { case (q, t) =>
        jstr(q) + s""":[${t.tasks},${t.failed},${t.reattempts},${f"${t.runMs / 1e3}%.2f"},${f"${t.cpuNs / 1e9}%.2f"},${jstr(t.firstFailure)}]"""
      }.mkString("{", ",", "}")
    // native-thread CPU: {"q":{"gc":s,"jit":s,"exec":s,"other":s}} —
    // concurrent-GC/JIT burn the MXBeans can't attribute
    val threadJs = threadQ.toSeq.sortBy(_._1)
      .map { case (q, m) =>
        jstr(q) + ":" + m.toSeq.sortBy(_._1)
          .map { case (k, v) => jstr(k) + ":" + f"$v%.2f" }
          .mkString("{", ",", "}")
      }.mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"cpu_sec":$cpuQs,"stages":$stageQs,"sched":$schedJs,"threads":$threadJs,"env":$env,"errors":$errs,"dumped":[],"sf":${jstr(sfDir)}}"""
    // Parse-proof shutdown (BENCH_r07 was `parsed: null`: a StateStore
    // maintenance WARN printed AFTER the summary line, so the driver
    // could not parse its tail). Order matters: silence log4j, stop
    // any active streams, stop the StateStore maintenance thread, stop
    // the session — and only THEN print the summary lines, so nothing
    // can interleave after them on stdout/stderr.
    scala.util.Try(spark.sparkContext.setLogLevel("OFF"))
    spark.streams.active.foreach(q => scala.util.Try(q.stop()))
    scala.util.Try(
      org.apache.spark.sql.execution.streaming.state.StateStore.stop())
    scala.util.Try(spark.stop())
    println(full)
    // The driver records only a tail of stdout and with 135 queries the
    // full line outgrows that window (r03 lost its own total to
    // front-truncation; r05's per-query map was truncated too) — so the
    // COMPLETE JSON also goes to a file the driver / next round can read.
    locally {
      val w = new java.io.FileWriter(Conf.benchOut)
      try { w.write(full); w.write("\n") } finally w.close()
    }
    // Compact summary LAST: everything a tail-window reader needs.
    // Since r17 it carries the FULL per-query wall map (~4 KB for 139
    // queries): the driver parses only this last line, and without the
    // map its round-over-round per-query comparison was empty in BOTH
    // r15 and r16 (PERF n_common: 0 — VERDICT r16 #2). Additions-only:
    // every pre-existing field is unchanged.
    println(compactLine(results, errors.toMap, env, sfDir))
    System.out.flush()
  }

  /** The timed action: compute every row and column of `df` and
    * discard them (the `noop` sink), i.e. what a caller who consumes
    * the result pays. A `count()` would let Catalyst prune the plan to
    * what a row count needs — for q20 a parquet row count, with no
    * window computed.
    */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  /** A JSON number, or `null` for NaN/±Infinity, which JSON cannot
    * carry (`fmt`, when given, formats the finite value).
    */
  private def jnum(v: Double, fmt: String = ""): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (fmt.isEmpty) v.toString
    else fmt.format(v)

  private def wallMap(results: Map[String, Double]): String =
    results.toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + jnum(v) }.mkString("{", ",", "}")

  private def strMap(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")

  /** The compact summary line (`env` is an already-rendered JSON
    * object). Valid JSON for any wall, NaN and infinities included.
    * `dumped` is always empty: the field outlived the stack-dump
    * watchdog so the line's shape is unchanged.
    */
  private[graft] def compactLine(results: Map[String, Double],
      errors: Map[String, String], env: String, sfDir: String): String = {
    val slow = results.toSeq.sortBy(-_._2).take(8)
      .map { case (k, v) => jstr(k) + ":" + jnum(v, "%.2f") }.mkString("{", ",", "}")
    s"""{"metric":"total_compact","value":${jnum(results.values.sum)},"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"queries":${wallMap(results)},"errors":${strMap(errors)},"dumped":[],"slowest":$slow,"env":$env,"sf":${jstr(sfDir)}}"""
  }
}
