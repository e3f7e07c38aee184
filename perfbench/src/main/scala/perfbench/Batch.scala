package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** The closed-loop batch workloads: one client calls every query of the
  * workload in a seeded order and materializes its full result with
  * `collect()`, as a caller would consume it. It makes at least
  * [[MinPasses]] such passes, each on a fresh copy of the inputs, and
  * more while `--seconds` have not passed. Each query's wall and CPU are
  * the median over its calls, and a pass's cost is the sum of those
  * medians.
  */
object Batch {
  /** TPC-H and `events` queries: the flagship event-time RANGE window,
    * row windows, aggregates, joins, the asof joins, the PageRank loop
    * and the bounded streaming queries over `events`.
    */
  val Relational: Seq[String] = Seq(
    "q20_window_range", "q19_window_rows", "q52_sliding_window", "q04_agg_group",
    "q44_percentiles", "q08_join_broadcast", "q09_join_multi", "q124_asof_native",
    "q131_asof_nearest", "q133_pagerank",
    "q28_stream_tumble", "q29_stream_range_state", "q47_stream_dedup",
    "q108_stream_static_join", "q132_stream_temporal_join")

  /** `documents` and `embeddings` queries: dedup, ANN, text, multimodal
    * and the two streaming dedup queries.
    */
  val Corpus: Seq[String] = Seq(
    "q34_dedup_exact", "q35_dedup_minhash", "q36_dedup_simhash", "q37_ngram_jaccard",
    "q102_dedup_cluster", "q111_dedup_apply", "q112_dedup_report", "q39_ann_brute",
    "q40_ann_lsh", "q51_ann_ivf", "q30_text_quality", "q31_tokens", "q74_tfidf",
    "q41_mm_decode", "q138_stream_dedup_near", "q139_stream_dedup_apply")

  /** Queries that share a memoized intermediate table, in pipeline
    * order: the first of a group builds the table the others read. A
    * group runs as one unit of the seeded order, so each query's wall
    * does not depend on the seed (which query pays for the shared table
    * is still visible in the per-query walls).
    */
  val Groups: Seq[Seq[String]] = Seq(
    Seq("q35_dedup_minhash", "q102_dedup_cluster", "q111_dedup_apply", "q112_dedup_report"),
    Seq("q136_dedup_incremental", "q137_dedup_incr_apply"),
    Seq("q138_stream_dedup_near", "q139_stream_dedup_apply"))

  /** The workload's queries in the seeded order of their groups. */
  def order(qs: Seq[String], seed: Long): Seq[String] = {
    val grouped = Groups.map(_.filter(qs.contains)).filter(_.nonEmpty)
    val units = grouped ++ qs.filterNot(grouped.flatten.contains).map(Seq(_))
    new scala.util.Random(seed).shuffle(units).flatten
  }

  /** Warm-up queries, one per operator family, run on small inputs
    * distinct from the timed ones.
    */
  val Warm: Map[String, Seq[String]] = Map(
    "relational" -> Seq("q09_join_multi", "q20_window_range", "q124_asof_native",
      "q28_stream_tumble"),
    "corpus" -> Seq("q31_tokens", "q35_dedup_minhash", "q39_ann_brute"))

  val Dedup: Set[String] = Set("q34_dedup_exact", "q35_dedup_minhash", "q36_dedup_simhash",
    "q37_ngram_jaccard", "q38_dedup_embedding", "q102_dedup_cluster", "q111_dedup_apply",
    "q112_dedup_report", "q136_dedup_incremental", "q137_dedup_incr_apply")
  val Ann: Set[String] = Set("q39_ann_brute", "q40_ann_lsh", "q51_ann_ivf")
  val Text: Set[String] = Set("q30_text_quality", "q31_tokens", "q74_tfidf", "q41_mm_decode")
  /** Queries that emit near-duplicate pairs `(a, b)`. */
  val PairQueries: Set[String] = Set("q35_dedup_minhash", "q37_ngram_jaccard",
    "q136_dedup_incremental", "q138_stream_dedup_near")
  /** Dedup queries checked by planted-pair recall instead of their
    * oracle SQL, which is a brute-force all-pairs join that DuckDB
    * cannot finish within a run at this corpus size. Each maps to the
    * share of planted (original, copy) pairs its output gets right.
    */
  val Planted: Map[String, (Array[Row], Expected) => Double] = {
    def ids(rows: Array[Row]) = rows.map(_.getAs[Long]("doc_id")).toSet
    def share(e: Expected)(ok: ((Long, Long)) => Boolean) =
      if (e.planted.isEmpty) 1.0 else e.planted.count(ok).toDouble / e.planted.size
    val pairs = (rows: Array[Row], e: Expected) => {
      val found = rows.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
      share(e)(found)
    }
    // the copy has the larger id, so min-id-wins dedup drops it
    val copyDropped = (rows: Array[Row], e: Expected) => {
      val kept = ids(rows); share(e) { case (_, c) => !kept(c) }
    }
    PairQueries.map(_ -> pairs).toMap ++ Map(
      "q102_dedup_cluster" -> { (rows: Array[Row], e: Expected) =>
        val cluster = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
        share(e) { case (o, c) => cluster.contains(o) && cluster.get(o) == cluster.get(c) }
      },
      "q111_dedup_apply" -> copyDropped,
      "q137_dedup_incr_apply" -> copyDropped,
      "q139_stream_dedup_apply" -> { (rows: Array[Row], e: Expected) =>
        val dropped = ids(rows); share(e) { case (_, c) => dropped(c) }
      },
      "q112_dedup_report" -> { (rows: Array[Row], e: Expected) =>
        val r = rows.head
        if (r.getAs[Long]("n_docs") != e.docs) 0.0
        else math.min(1.0, r.getAs[Long]("n_near_pairs").toDouble / e.planted.size)
      })
  }
  /** Approximate top-10 queries checked against exact brute force, with
    * the least mean recall@10 each must reach: the floors AnnSpec states
    * for them ("meaningfully above random").
    */
  val RecallFloor: Map[String, Double] = Map("q40_ann_lsh" -> 0.10, "q51_ann_ivf" -> 0.15)
  val PlantedFloor = 0.9

  def queries(workload: String): Seq[String] =
    if (workload == "relational") Relational else Corpus

  def warm(spark: SparkSession, dir: String, workload: String): Unit =
    Warm(workload).foreach(q => graft.SparkEntry.queries(q)(spark, dir).collect())

  /** One query call of one pass; `trace` names it in spans and in the
    * job group (the query name, suffixed with the pass after the first).
    */
  final case class Timed(name: String, trace: String, wallNs: Long, cpuS: Double,
      buildNs: Long, planNs: Long, execNs: Long, trackerPlanMs: Double,
      columns: Seq[String], rows: Array[Row], plan: String, error: String)

  private def one(spark: SparkSession, dir: String, q: String, trace: String,
      tracer: Tracer): Timed = {
    val fn = graft.SparkEntry.queries(q)
    val cpu0 = Host.processCpuSeconds()
    val t0 = System.nanoTime()
    val span = tracer.begin("query", 0, trace)
    spark.sparkContext.setJobGroup(trace, q)
    try {
      val (df, buildNs) = tracer.timed("queries.build", span, trace)(fn(spark, dir))
      val (_, planNs) = tracer.timed("queries.plan", span, trace)(df.queryExecution.executedPlan)
      val (rows, execNs) = tracer.timed("queries.exec", span, trace)(df.collect())
      val wall = System.nanoTime() - t0
      tracer.end(span)
      val phases = df.queryExecution.tracker.phases
      val tracked = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs.toDouble).sum
      Timed(q, trace, wall, Host.processCpuSeconds() - cpu0, buildNs, planNs, execNs,
        tracked, df.columns.toSeq, rows, df.queryExecution.executedPlan.toString, null)
    } catch {
      case e: Throwable =>
        tracer.end(span)
        Timed(q, trace, System.nanoTime() - t0, Host.processCpuSeconds() - cpu0,
          0L, 0L, 0L, 0.0, Nil, Array.empty, "",
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")}")
    } finally spark.sparkContext.clearJobGroup()
  }

  /** A fresh copy of the run's inputs: a new path, so no loader, index
    * or intermediate-table memo keyed by path carries over to it.
    */
  def copyOf(dir: String, work: Path, tag: String): String = {
    val to = work.resolve(tag)
    Files.createDirectories(to)
    Files.list(java.nio.file.Paths.get(dir)).forEach { p =>
      if (p.toString.endsWith(".parquet")) Files.copy(p, to.resolve(p.getFileName))
    }
    to.toString
  }

  /** Expected digests and planted pairs written by `run.py`. */
  final case class Expected(digests: Map[String, String], planted: Set[(Long, Long)],
      docs: Long)

  def readExpected(p: Path): Expected = {
    val lines = Files.readAllLines(p).asScala.map(_.split("\t", -1).toSeq)
    Expected(
      lines.collect { case Seq("digest", q, d) => q -> d }.toMap,
      lines.collect { case Seq("planted", a, b) => (a.toLong, b.toLong) }.toSet,
      lines.collect { case Seq("documents", n) => n.toLong }.headOption.getOrElse(0L))
  }

  /** Whole passes every run makes, whatever `--seconds` is: the first
    * pass still compiles much of the engine's code, so each query's
    * median always takes in a later call as well.
    */
  val MinPasses = 2

  /** Median of `f` over each query's calls, by query name. */
  def perQuery(timed: Seq[Timed])(f: Timed => Double): Map[String, Double] =
    timed.groupBy(_.name).map { case (q, ts) => q -> Stats.median(ts.map(f)) }

  def run(spark: SparkSession, a: Args, res: Result, tracer: Tracer,
      counters: SparkCounters, progress: StreamProgress): Unit = {
    val order = Batch.order(queries(a.workload), a.seed)
    val expected = readExpected(a.expected)
    res.report += s"query order: ${order.mkString(" ")}"

    // whole passes, at least MinPasses, then more until --seconds have
    // passed; each later pass reads its own copy of the inputs, made
    // before the pass starts
    val (steal0, iowait0) = Host.stealIowait()
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    val calls = scala.collection.mutable.ArrayBuffer.empty[Timed]
    var passes = 0
    while (passes < MinPasses || System.nanoTime() < deadline) {
      val k = passes
      val dir = if (k == 0) a.data else copyOf(a.data, a.work, s"pass-$k")
      order.foreach(q => calls += one(spark, dir, q, if (k == 0) q else s"$q#$k", tracer))
      passes += 1
    }
    val (steal1, iowait1) = Host.stealIowait()
    counters.drain(spark.sparkContext, "perfbench-drain")
    val sparkTotals = counters.perPass(passes)
    res.env ++= Map("steal_s" -> (steal1 - steal0), "iowait_s" -> (iowait1 - iowait0),
      "passes" -> passes, "calls" -> calls.size)

    // output checks, outside the timed window
    val timed = calls.toSeq
    res.attempted = timed.size
    val embeddings = exactNeighbours(spark, a.data, timed)
    timed.foreach { t =>
      val problems = Option(t.error).toSeq ++ (if (t.error != null) Nil else checks(t, expected, embeddings, res))
      if (problems.nonEmpty) res.fail(s"${t.trace}: ${problems.mkString("; ")}")
    }

    val walls = perQuery(timed)(_.wallNs / 1e9)
    val (tail, tailPct) = Stats.tail(walls.values.toSeq)
    res.metrics ++= Map("total_s" -> walls.values.sum,
      "query_p50_s" -> Stats.median(walls.values.toSeq), "query_tail_s" -> tail,
      "cpu_s" -> perQuery(timed)(_.cpuS).values.sum)
    res.report += s"$passes pass(es), ${timed.size} calls"
    res.report += "query walls, each call (s): " + order.map(q =>
      s"$q=" + timed.filter(_.name == q).map(t => f"${t.wallNs / 1e9}%.3f").mkString("/"))
      .mkString(" ")
    res.report += f"median query walls: ${walls.size} queries, p50 ${Stats.median(walls.values.toSeq)}%.4f s, " +
      f"tail p$tailPct%.1f ${tail}%.4f s, sum ${walls.values.sum}%.3f s"

    if (tracer.enabled) {
      res.metrics ++= sparkTotals
      layers(spark, a, res, tracer, counters, progress, timed)
    }
  }

  /** Exact top-10 neighbours by cosine for every query id the ANN
    * queries returned, from the run's embeddings (brute force).
    */
  private def exactNeighbours(spark: SparkSession, dir: String,
      timed: Seq[Timed]): Map[Long, Seq[Long]] = {
    val ids = timed.filter(t => RecallFloor.contains(t.name) && t.error == null)
      .flatMap(_.rows.map(_.getAs[Long]("query_id"))).toSet
    if (ids.isEmpty) Map.empty
    else {
      val vecs = graft.Tables.embeddings(spark, dir).select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
      val normed = vecs.map { case (id, v) => val n = norm(v); id -> v.map(_ / n) }
      val byId = normed.toMap
      ids.toSeq.map { q =>
        val qv = byId(q)
        q -> normed.filter(_._1 != q)
          .map { case (id, v) => (id, v.indices.map(i => v(i) * qv(i)).sum) }
          .sortBy(x => (-x._2, x._1)).take(10).map(_._1).toSeq
      }.toMap
    }
  }

  private def recall(t: Timed, exact: Map[Long, Seq[Long]]): Double = {
    val got = t.rows.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val per = got.toSeq.map { case (q, ns) => exact(q).count(ns).toDouble / 10.0 }
    if (per.isEmpty) 0.0 else per.sum / per.size
  }

  /** Every check that applies to the query; empty when it passes. */
  private def checks(t: Timed, e: Expected, exact: Map[Long, Seq[Long]],
      res: Result): Seq[String] = {
    val digest = e.digests.get(t.name).toSeq.flatMap { want =>
      val got = Digest.of(t.columns, t.rows.toSeq)
      if (want.startsWith("error:")) Seq(s"oracle failed ($want)")
      else if (got != want) Seq(s"digest $got != oracle $want")
      else Nil
    }
    val recallCheck = RecallFloor.get(t.name).toSeq.flatMap { floor =>
      val r = recall(t, exact)
      res.metrics(s"recall.${t.trace}") = r
      res.report += f"${t.trace} recall@10 $r%.3f (floor $floor)"
      if (r < floor) Seq(f"recall@10 $r%.3f < $floor") else Nil
    }
    val plantedCheck = Planted.get(t.name).toSeq.flatMap { f =>
      val r = f(t.rows, e)
      res.metrics(s"planted.${t.trace}") = r
      res.report += f"${t.trace} planted recall $r%.3f (floor $PlantedFloor)"
      if (r < PlantedFloor) Seq(f"planted recall $r%.3f < $PlantedFloor") else Nil
    }
    // q41 has no oracle SQL: one decoded row per document
    val rowCheck = if (t.name != "q41_mm_decode") Nil else {
      val ids = t.rows.map(_.getAs[Long]("doc_id")).distinct.length
      if (t.rows.length == e.docs && ids == e.docs) Nil
      else Seq(s"${t.rows.length} rows, $ids documents, expected ${e.docs}")
    }
    val selfCheck = if (t.name != "q36_dedup_simhash") Nil else
      t.rows.toSeq.flatMap(r => Seq("exact_recall_ok", "hamming_bound_ok", "ordering_ok")
        .filterNot(c => r.getAs[Boolean](c)).map(c => s"$c is false"))
    digest ++ recallCheck ++ plantedCheck ++ rowCheck ++ selfCheck ++
      PlanGuard.check(t.name, t.plan)
  }

  /** Per-layer metrics of the traced run: for one pass, the sum over
    * queries of each query's median over its calls.
    */
  private def layers(spark: SparkSession, a: Args, res: Result, tracer: Tracer,
      counters: SparkCounters, progress: StreamProgress, timed: Seq[Timed]): Unit = {
    def wallOf(p: String => Boolean) =
      perQuery(timed.filter(t => p(t.name)))(_.wallNs / 1e9).values.sum
    def okSum(f: Timed => Double) = perQuery(timed.filter(_.error == null))(f).values.sum
    val parents = timed.flatMap(t => tracer.all.filter(x => x.trace == t.trace)
      .map(x => (t.trace, x.id, x.startNs, x.endNs)))
    val jobsPer = Spans.attachSpark(tracer, counters, parents)
    def lowest(prefix: String) = {
      val rs = res.metrics.collect { case (k, v) if k.startsWith(prefix) => v }
      if (rs.isEmpty) 0.0 else rs.min
    }
    res.metrics ++= Map(
      "queries.build_s" -> okSum(_.buildNs / 1e9),
      "queries.plan_s" -> okSum(_.trackerPlanMs / 1e3),
      "queries.exec_s" -> okSum(_.execNs / 1e9),
      "queries.jobs" -> (if (timed.isEmpty) 0.0 else jobsPer.values.sum.toDouble / timed.size),
      "queries.q20_window_range_s" -> wallOf(_ == "q20_window_range"),
      "queries.q09_join_multi_s" -> wallOf(_ == "q09_join_multi"),
      "queries.q133_pagerank_s" -> wallOf(_ == "q133_pagerank"),
      "plans.asof_s" -> wallOf(_.contains("asof")),
      "dedup.s" -> wallOf(Dedup),
      "dedup.pairs" -> okSum(t => if (PairQueries(t.name) && Dedup(t.name)) t.rows.length.toDouble else 0.0),
      "dedup.planted_recall" -> lowest("planted."),
      "ann.s" -> wallOf(Ann),
      "ann.recall_at_10" -> lowest("recall."),
      "text.s" -> wallOf(Text),
      "streaming.bounded_s" -> wallOf(_.contains("_stream_")))
    res.metrics ++= StreamProgress.layer(progress.dataBatches)
    res.metrics ++= Kernels.layer(spark, a)
  }
}
