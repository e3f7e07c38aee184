package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its result file; `run.py` is the entry
  * point that prepares inputs and prints the result line.
  *
  * {{{
  * Main --workload relational|corpus|stream_payments --seed N --seconds S
  *      --trace 0|1 --data DIR --warm DIR --expected FILE --out FILE --work DIR
  * Main --dump-oracles FILE
  * }}}
  */
object Main {
  val Workloads = Seq("relational", "corpus", "stream_payments")

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--dump-oracles")) dumpOracles(argv(1))
    else {
      val a = Args.parse(argv)
      require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
      val res = new Result
      val spark = run(a, res)
      val t0 = System.nanoTime()
      Session.stop(spark)
      res.report += f"JVM: ${(System.currentTimeMillis() - Host.jvmStartMs) / 1e3}%.1f s " +
        f"since start, session stop ${(System.nanoTime() - t0) / 1e9}%.1f s"
      res.write(a.out)
    }
  }

  /** Oracle SQL and the workloads' query lists, for `oracle.py`. */
  private def dumpOracles(path: String): Unit = {
    val lists = Seq("relational", "corpus").map(w => w -> Batch.queries(w)).toMap
    Files.write(Paths.get(path), Json.value(Map(
      "oracle_sql" -> graft.SparkEntry.oracleSql, "queries" -> lists,
      "planted_checked" -> Batch.Planted.keys.toSeq.sorted))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The set-up a user of the engine pays once per process: from JVM
    * start until the session is built and the warm-up, on inputs distinct
    * from the timed ones, is done.
    */
  private def setup(a: Args, res: Result, tracer: Tracer): SparkSession = {
    val t0 = System.nanoTime() - (System.currentTimeMillis() - Host.jvmStartMs) * 1000000L
    val spark = Session.build(a.work)
    val t1 = System.nanoTime()
    tracer.add("session.start", 0, "setup", t0, t1)
    if (a.workload == "stream_payments") Stream.warm(spark, a.seed + 1000, a.work, "warm")
    else Batch.warm(spark, a.warm, a.workload)
    val t2 = System.nanoTime()
    tracer.add("session.warm", 0, "setup", t1, t2)
    res.metrics ++= Map("setup_s" -> (t2 - t0) / 1e9, "session.start_s" -> (t1 - t0) / 1e9,
      "session.warm_s" -> (t2 - t1) / 1e9)
    res.report += f"setup: ${(t2 - t0) / 1e9}%.3f s (session ${(t1 - t0) / 1e9}%.3f s, " +
      f"warm-up ${(t2 - t1) / 1e9}%.3f s)"
    spark
  }

  def run(a: Args, res: Result): SparkSession = {
    val tracer = new Tracer(a.trace)
    var spark = setup(a, res, tracer)
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val progress = new StreamProgress
    spark.streams.addListener(progress)
    res.env ++= Host.env(spark, a)
    if (a.workload == "stream_payments")
      spark = Stream.run(spark, a, res, tracer, counters, progress)
    else Batch.run(spark, a, res, tracer, counters, progress)
    res.metrics("peak_rss_mb") = Host.peakRssMb()
    if (tracer.enabled) {
      tracer.selfSeconds.foreach { case (name, s) => res.metrics(s"self.${name}_s") = s }
      res.metrics("trace.total_s") = res.metrics("total_s")
      res.metrics.get("stream_p50_ms").foreach(res.metrics("trace.stream_p50_ms") = _)
      tracer.write(a.work.resolve("spans.jsonl"))
    }
    spark
  }
}
