package graft

import graft.functions.{TextFunctions => T}
import graft.queries.Query
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reproducible ×R scale-stress for the dedup/ANN paths (the round-4
  * ×8 runs were ad hoc; this pins them as a harness).
  *
  * Materializes a replicated corpus DIRECTORY (same table layout as
  * the driver testdata, id columns offset per replica so uniqueness
  * invariants hold) and drives the REAL query entry points
  * (`SparkEntry.queries`) against it — the same code path the
  * correctness gate runs, eight times the data.
  *
  * Every document becomes an R-clique of exact copies, so ground
  * truth is known without an oracle: all C(R,2)·N same-base pairs
  * MUST be recovered by both near-dup pipelines (exact copies share
  * every signature). At sf0.1 × 8 = 40k docs, every 8-bit SimHash
  * chunk bucket holds ~N/256 ≈ 156 > MaxBucket=64 members, so 100%
  * of q36's pairs travel the oversized-bucket re-block path — the
  * regime where the pre-round-5 cap silently dropped every bucket
  * (clique recall would have been 0, not 1).
  *
  * Run: `sbt "harness/runMain graft.ScaleStress [sfDir] [replication] [mode]"`,
  * on `local[N]` with N = `SPARK_GRAFT_CPUS` (default 4).
  */
object ScaleStress {

  val Base = 10000000L

  /** Deterministic scratch release between stress families: each
    * pipeline's intermediate checkpoints (buckets, pair expansions,
    * verify fetches) become garbage the moment its check returns, but
    * their memory/disk blocks are only freed when the ContextCleaner
    * notices the GC'd references — at ×512 that lag let three
    * families' dead blocks stack up and exhaust the box's ~61 GB
    * scratch inside q102's loop, and at distinct ×128 the RESIDENT
    * blocks squeezed the execution pool under q136's probe builds
    * ("Unable to acquire … got 0", r12). The tables [[Memo]] holds
    * (the q35 pair table / q102 labels later sections re-read) are
    * exempt — unpersisting a lineage-cut checkpoint would be
    * unrecoverable, not a recompute; a section that is done with
    * them calls `Memo.release(dir)`.
    */
  private def releasingExcept(spark: SparkSession)(f: => Unit): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    f
    val held = Memo.rddIds
    // BLOCKING unpersist + a GC pass (r12): after a block-heavy section
    // (q36's level-3 run writes tens of GB of serialized blocks) the
    // async release lagged into the NEXT section's first scan — the
    // ×512 q136 heap OOM reproduced exactly there. The section
    // boundary is the deterministic reclaim point; paying its
    // synchronous cost here is the harness's job.
    spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !before(id) && !held(id) }
      .values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Replicate `srcDir` into `outDir` with per-replica id offsets.
    * Dims copy as-is (dims stay dims — broadcast plans unchanged);
    * fact/corpus tables offset their id column so ids stay unique.
    * `events` offsets user_id AS WELL AS event_id: a realistically
    * R×-bigger stream has ~R× more users at constant per-user
    * density, not the same users R× denser — leaving user_id
    * undiluted made the click×purchase join families' per-key state
    * and OUTPUT grow ~R² (r9, found at ×32: the full-outer join's
    * R²-sized driver-side snapshot OOM'd the local heap — a harness
    * densification artifact, not the linear corpus growth this
    * harness models; per-key quadratic fan-out under genuine key
    * densification is inherent to the query's semantics and is the
    * one regime the stream demos do not claim).
    * `events` keeps its stored `ts` layout (int64-nanos or µs
    * timestamp, whichever the generator shipped — the loaders probe)
    * and lands as a single file (the streaming source's
    * pathGlobFilter matches the file name `events.parquet`).
    *
    * ASYMMETRY (deliberate, scoped): only events.user_id is diluted.
    * The other fact-side FK columns — orders.o_custkey,
    * lineitem.l_suppkey / l_partkey — stay undiluted because they
    * point at dims that copy as-is, so (a) q108's stream-static match
    * rate drops to 1/R on scaled dirs (only base-replica users hit
    * the customer dim — stateless, not a stress claim), and (b) any
    * FUTURE stress assertion that joins replicated facts on those
    * keys sees per-key R-fold densification (R× orders per custkey ⇒
    * R²-shaped join output). If such an assertion is added, either
    * dilute that FK the same way user_id is, or write the expected
    * count with the R-fold factor in it — don't treat the densified
    * count as a regression.
    */
  /** Write width for replicated stress tables: one partition per ~16
    * base replicas (≈ tens of MB per part for the testdata tables),
    * floored at the session's parallelism so small reps still write —
    * and later scan — in parallel.
    */
  private def replWriteParts(spark: SparkSession, rep: Int): Int =
    math.max(spark.sparkContext.defaultParallelism, rep / 16)

  /** ×R replication SHAPED FOR SCALE (r13): the replica index
    * `spark.range(rep)` is the partitioned STREAM side and the base
    * table BROADCASTS — the output inherits the range's
    * [[replWriteParts]] partitioning with ZERO shuffle, so the write
    * is parallel, every part file holds ~16 replicas (bounded row
    * groups), and nothing corpus-sized ever hits shuffle scratch.
    * The first two ×2048 attempts measured both failure modes this
    * shape avoids: base-side crossJoin inherits the source's ONE
    * partition (a 1.7 GB single part file whose row-group-sized scan
    * buffers OOM'd q37), and repartition-before-write spools the
    * whole replicated table (~60 GB at ×2048) through shuffle scratch
    * and filled the disk. The base is read with its footer schema, so
    * a TIMESTAMP(NANOS) `ts` replicates as the raw int64 the events
    * loader expects.
    */
  private def replicated(spark: SparkSession, srcPath: String,
      rep: Int): DataFrame =
    spark.range(0L, rep.toLong, 1L, replWriteParts(spark, rep))
      .select(col("id").as("__r"))
      .crossJoin(broadcast(Tables.read(spark, srcPath, nanosAsLong = true)))

  /** `docsOnly`: build just the dims + documents table. The distinct
    * dedup gate reads NOTHING else, and at ×2048 the unused
    * lineitem/orders/events/embeddings replicas cost ~23 GB of the
    * same scratch disk the probe's own pair/bucket checkpoints need —
    * at that rep the binding resource is the one the probe is there
    * to measure. `builddistinct`/`streams` modes keep complete dirs
    * (r12: Bench and the stream family run on them directly).
    */
  def buildDir(spark: SparkSession, srcDir: String, outDir: String,
      rep: Int, distinctDocs: Boolean = false,
      docsOnly: Boolean = false): Unit = {
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    def repl(name: String, idCols: Seq[String], singleFile: Boolean = false): Unit = {
      val out = idCols.foldLeft(replicated(spark, s"$srcDir/$name.parquet", rep))(
          (d, c) => d.withColumn(c, col(c) + col("__r") * Base))
        .drop("__r")
      if (!singleFile) {
        out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      } else {
        val tmp = s"$outDir/__tmp_$name"
        out.coalesce(1).write.mode("overwrite").parquet(tmp)
        import java.nio.file.{Files, Paths, StandardCopyOption}
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        Files.move(part.toPath, Paths.get(s"$outDir/$name.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        new java.io.File(tmp).listFiles().foreach(_.delete())
        Files.deleteIfExists(Paths.get(tmp))
      }
    }
    if (!docsOnly) {
      repl("orders", Seq("o_orderkey"))
      repl("lineitem", Seq("l_orderkey"))
    }
    // r12: in the builddistinct/streams modes (docsOnly=false) the
    // distinct-regime dirs are COMPLETE (every table, not just
    // documents) — Bench/streams can run on them without symlinking
    // the flood dir's tables in. Only the documents table differs
    // between regimes (exact ×R copies vs per-replica salted text).
    // NOTE the `distinct` mode itself runs docsOnly=true: its dirs
    // skip orders/lineitem/embeddings/events and can NOT back a
    // Bench/streams run.
    if (distinctDocs) buildDistinctDocs(spark, srcDir, outDir, rep)
    else repl("documents", Seq("doc_id"))
    if (!docsOnly) {
      repl("embeddings", Seq("vec_id"))
      // user_id too — see the scaling note above (q108's stream-static
      // enrichment keeps matching only base-replica users against the
      // as-is customer dim; it is stateless, so its scaling is not a
      // stress claim)
      repl("events", Seq("event_id", "user_id"), singleFile = true)
    }
  }

  /** DISTINCT-corpus documents table (r11, the VERDICT r10 top ask):
    * ×R replication where every replica's text is DETERMINISTICALLY
    * PERTURBED — each whitespace token `t` becomes `z<r>q<t>` for
    * replica r — so the corpus grows ×R while the near-dup RATE stays
    * the base corpus's. This is the realistic 100 TB regime the flood
    * harness cannot measure: past ×64 the flood's every-doc-an-R-clique
    * shape makes all top-end cost C(R,2) OUTPUT growth, while a real
    * corpus's blocking tables, signature spaces, bucket distributions
    * and CC loop scale with CORPUS size at ~flat pairs/doc.
    *
    * Why this salt is exact ground truth:
    *  - `t ↦ "z"+r+"q"+t` is injective for a fixed replica, so word
    *    n-gram SETS map bijectively — every within-replica Jaccard
    *    value is preserved BIT-EXACTLY (same integer set sizes, same
    *    division), and q35/q37's outputs must be exactly R
    *    replica-shifted copies of the base dir's engine output.
    *  - Across replicas the encoding is prefix-unambiguous (after the
    *    leading `z`, the digit run and the `q` delimiter reconstruct
    *    r uniquely; a base token starting with digits cannot forge
    *    another replica's prefix), so shingle spaces are strictly
    *    DISJOINT: any cross-replica pair has Jaccard 0 and the
    *    Jaccard families must emit exactly zero of them. (q36's
    *    64-bit SimHash CAN collide across replicas at random — those
    *    few pairs are true Hamming≤7 answers, reported not asserted.)
    *
    * Tokenization parity: texts are rebuilt `concat_ws(" ", …)` from
    * the same lower/trim/\s+ split the engine's tokenizer uses, so
    * eligibility (≥2 / ≥3 tokens) maps 1:1 — an empty/whitespace base
    * text becomes the single token `z<r>q`, still ineligible.
    */
  def buildDistinctDocs(spark: SparkSession, srcDir: String, outDir: String,
      rep: Int): Unit = {
    val salt = concat(lit("z"), col("__r").cast("string"), lit("q"))
    replicated(spark, s"$srcDir/documents.parquet", rep)
      .withColumn("doc_id", col("doc_id") + col("__r") * Base)
      .withColumn("text", concat_ws(" ",
        transform(split(trim(lower(col("text"))), "\\s+"),
          t => concat(salt, t))))
      .drop("__r")
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  /** Final-batch state rows across a profile's streams' stateful
    * operators (numRowsTotal from each stream's last progress, the
    * ×R bound's input).
    */
  private def stateRows(p: Profile[_]): Long =
    p.streams.flatMap(_.stateOperators).map(_.numRowsTotal).sum

  /** Run every stream-family query on `dir`. Returns name -> (rows,
    * secs, final-batch state rows); any query error propagates
    * (zero-error is the stress claim).
    */
  private def runStreamFamily(spark: SparkSession,
      dir: String): Seq[(String, Long, Double, Long)] =
    graft.streaming.StreamingQueries.queries.sortBy(_.name).map {
      case Query(name, fn, _) =>
        val t0 = System.nanoTime()
        val p = Profile.of(spark)(fn(spark, dir).count())
        val n = p.value
        val secs = (System.nanoTime() - t0) / 1e9
        val state = stateRows(p)
        println(f"[stress] $name $n%,d rows in $secs%.1f s; state rows $state%,d")
        (name, n, secs, state)
    }

  /** The distinct-corpus gate (see [[buildDistinctDocs]]): runs the
    * dedup family over a ×R corpus with BASE near-dup rate and asserts
    * engine-vs-engine invariance against the same pipelines on the
    * source dir — no oracle, no output-sized driver state:
    *  - q35/q37: the ×R pair multiset, projected through `id mod Base`,
    *    must be the base pair set R-fold: EXACT pairs (J = 1.0,
    *    deterministic exact-signature recall) perfectly, NEAR pairs
    *    within a 0.1% deviation bound (each replica's salt re-rolls
    *    every shingle hash, so borderline-J LSH recall is a fresh
    *    draw per replica — measured 0.006% at ×128), and zero
    *    cross-replica pairs (disjoint shingle spaces) — pair volume
    *    is linear in corpus size, the regime the flood harness's
    *    C(R,2) output growth drowns out.
    *  - q36: every within-replica exact-shingle-set pair must surface
    *    at Hamming 0 (identical sets ⇒ identical codes; the exact-code
    *    key guarantees blocking), ≥ R × the base exact-pair count;
    *    near-pair counts are hash-draw-dependent per replica (each
    *    salt re-rolls every shingle hash) so the total is asserted
    *    LINEAR (≤ 3·R·base + a cross-collision allowance), not exact.
    *  - q102: the ×R label table, projected through `mod Base`, must
    *    be R copies of the base label table (cluster ids are
    *    min-doc-ids, so they shift with the replica offset) within a
    *    0.5% deviation bound — label rows inherit the pair draws.
    */
  /** R-fold pair invariance for the distinct regime (factored r14 so
    * the focused `distinct37` probe reuses it). Exactness split along
    * what the engine guarantees:
    *  - EXACT pairs (J = 1.0): recall is DETERMINISTIC (the
    *    exact-signature blocking key) — must appear in all R
    *    replicas, no extras, no exceptions.
    *  - NEAR pairs (J < 1): LSH banding recall is probabilistic per
    *    hash draw, and each replica's salt re-rolls every shingle
    *    hash — a borderline-J base pair can miss in a few of R draws
    *    (measured at ×128: ONE base pair absent from 2/128 replicas,
    *    deviation 0.006%; deterministic, same draws every run).
    *    Asserted ≤ 0.1% of R×base pair instances — 16× headroom over
    *    the measured rate, while any systematic regression (a cap
    *    drop, a key-space bug) is orders of magnitude larger (r7's
    *    flood collapse was 100%).
    */
  private def pairInvarianceAt(rep: Int)(name: String, base: DataFrame,
      scaled: DataFrame, secs: Double): Long = {
    val replica = (c: String) => expr(s"$c DIV $Base")
    val baseId = (c: String) => pmod(col(c), lit(Base))
    val crossed = scaled.filter(replica("a") =!= replica("b")).count()
    val projected = scaled
      .select(baseId("a").as("a"), baseId("b").as("b"), col("jaccard"))
      .groupBy("a", "b", "jaccard").agg(count(lit(1)).as("n"))
    val joined = projected.join(
      base.select(col("a"), col("b"), col("jaccard"), lit(1L).as("w")),
      Seq("a", "b", "jaccard"), "full_outer")
      .select(col("a"), col("b"), col("jaccard"),
        coalesce(col("n"), lit(0L)).as("found"),
        when(col("w").isNotNull, rep.toLong).otherwise(0L).as("want"))
      .withColumn("dev", abs(col("found") - col("want")))
    val exactBad = joined
      .filter(col("jaccard") === 1.0 && col("dev") =!= 0L).count()
    val nearDev = joined.filter(col("jaccard") < 1.0)
      .agg(coalesce(sum(col("dev")), lit(0L)).cast("long"))
      .collect()(0).getLong(0)
    val total = scaled.count()
    val nBase = base.count()
    println(f"[stress] $name distinct x$rep: $total%,d pairs " +
      f"(base $nBase%,d x $rep) in $secs%.1f s; cross-replica " +
      f"$crossed, exact-pair violations $exactBad, near-pair " +
      f"deviation $nearDev/${rep * nBase}%,d instances")
    joined.filter(col("dev") =!= 0L).limit(5).collect().foreach(r =>
      println(s"[stress]   deviating pair: $r"))
    assert(crossed == 0L, s"$name emitted $crossed cross-replica pairs " +
      "(disjoint shingle spaces make any such pair impossible)")
    assert(exactBad == 0L,
      s"$name x$rep lost/invented exact-dup pairs ($exactBad rows)")
    assert(nearDev <= math.max(4L, rep * nBase / 1000L),
      s"$name x$rep near-pair deviation $nearDev exceeds 0.1% - " +
        "systematic recall regression, not LSH draw noise")
    total
  }

  /** Focused q37 probe for the ×4096 scratch ceiling (r14, VERDICT
    * r13 #4): docs-only distinct dir + the q37 invariance leg ALONE,
    * so the sliced-verify envelope can be measured without paying the
    * full family's multi-hour wall. Slice count comes from
    * `spark.graft.dedup.verifySlices` (set through SPARK_GRAFT_CONF).
    */
  private def runDistinct37(spark: SparkSession, srcDir: String,
      rep: Int): Unit = {
    val outDir = s"target/stress_distinct_x$rep"
    val tB = System.nanoTime()
    buildDir(spark, srcDir, outDir, rep, distinctDocs = true, docsOnly = true)
    println(f"[stress] built distinct $outDir in ${
      (System.nanoTime() - tB) / 1e9}%.1f s")
    // Peak-disk sampler (r16, VERDICT r15 #4): the ×8192 go/no-go is a
    // DISK envelope, so the probe measures its own peak instead of
    // relying on an operator eyeballing df mid-run. 1 Hz min-free
    // tracking over the run; the report is the delta from the start.
    val free0 = new java.io.File("/").getUsableSpace
    val minFree = new java.util.concurrent.atomic.AtomicLong(free0)
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        val f = new java.io.File("/").getUsableSpace
        minFree.getAndUpdate(m => math.min(m, f))
        Thread.sleep(1000)
      }
    }, "distinct37-disk-sampler")
    sampler.setDaemon(true)
    sampler.start()
    try releasingExcept(spark) {
      val baseQ37 = SparkEntry.queries("q37_ngram_jaccard")(spark, srcDir)
        .localCheckpoint()
      val t0 = System.nanoTime()
      val xQ37 = SparkEntry.queries("q37_ngram_jaccard")(spark, outDir)
        .localCheckpoint()
      pairInvarianceAt(rep)("q37", baseQ37, xQ37,
        (System.nanoTime() - t0) / 1e9)
    } finally {
      sampling = false
      println(f"[stress] q37 x$rep peak disk delta ${
        (free0 - minFree.get) / 1e9}%.2f GB (start free ${free0 / 1e9}%.2f " +
        f"GB, min free ${minFree.get / 1e9}%.2f GB)")
    }
  }

  private def runDistinct(spark: SparkSession, srcDir: String,
      rep: Int): Unit = {
    import graft.queries.DedupQueries
    val outDir = s"target/stress_distinct_x$rep"
    val tB = System.nanoTime()
    buildDir(spark, srcDir, outDir, rep, distinctDocs = true, docsOnly = true)
    println(f"[stress] built distinct $outDir in ${
      (System.nanoTime() - tB) / 1e9}%.1f s")

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val replica = (c: String) => expr(s"$c DIV $Base")
    val baseId = (c: String) => pmod(col(c), lit(Base))

    def pairInvariance(name: String, base: DataFrame, scaled: DataFrame,
        secs: Double): Long =
      pairInvarianceAt(rep)(name, base, scaled, secs)
    // Sections that build corpus-sized pipeline intermediates release
    // them on exit (cf. the flood path's releasingExcept; at ×128 the
    // resident bucket/fetch checkpoints of three families squeezed the
    // execution pool under q136's probe builds). q35 keeps the two
    // memoized pair tables (Memo-held; q112's n_near_pairs and q136's
    // full-compare re-read them); the label-sized q102/q111/q112
    // sections stay unwrapped (their blocks are near-dup-rate-sized).
    var baseQ35: DataFrame = null
    var xQ35: DataFrame = null
    var q35Total = 0L
    releasingExcept(spark) {
      baseQ35 = DedupQueries.nearDupPairs(spark, srcDir)
      val (x, sQ35) = timed { DedupQueries.nearDupPairs(spark, outDir) }
      xQ35 = x
      q35Total = pairInvariance("q35", baseQ35, xQ35, sQ35)
    }

    releasingExcept(spark) {
      val baseQ37 = SparkEntry.queries("q37_ngram_jaccard")(spark, srcDir)
        .localCheckpoint()
      val (xQ37, sQ37) = timed {
        SparkEntry.queries("q37_ngram_jaccard")(spark, outDir)
          .localCheckpoint() } // output-sized: ~R × base pairs, tiny here
      pairInvariance("q37", baseQ37, xQ37, sQ37)
    }

    // ---- q36: exact-pair recall floor + linear-volume ceiling ----
    // base exact-shingle-set pairs (identical distinct-2-shingle sets):
    // replicable ground truth, independent of any hash draw (sum is
    // cast back — Column `/` is double division)
    val nExactBase = Tables.documents(spark, srcDir)
      .select(T.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(array_sort(array_distinct(
        T.wordNGrams(col("toks"), 2))).as("sh"))
      .groupBy("sh").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * (col("c") - 1L) / 2L), lit(0L))
        .cast("long"))
      .collect()(0).getLong(0)
    var nBase36 = 0L
    var row36: org.apache.spark.sql.Row = null
    var s36 = 0.0
    releasingExcept(spark) {
      nBase36 = DedupQueries.simHashPairsFor(spark, srcDir).count()
      val (r, s) = timed {
        // one aggregate pass, nothing output-sized (cf. cliqueCheck)
        DedupQueries.simHashPairsFor(spark, outDir).agg(
          count(lit(1)).as("n"),
          count(when(replica("a") =!= replica("b"), 1)).as("cross"),
          count(when(replica("a") === replica("b") &&
            col("hamming") === 0, 1)).as("ham0_within"))
          .collect()(0)
      }
      row36 = r; s36 = s
    }
    val (n36, cross36, ham036) =
      (row36.getLong(0), row36.getLong(1), row36.getLong(2))
    println(f"[stress] q36 distinct x$rep: $n36%,d pairs in $s36%.1f s " +
      f"(base $nBase36%,d; within-replica hamming-0 $ham036%,d >= " +
      f"${rep * nExactBase}%,d exact floor; cross-replica $cross36%,d " +
      "- 64-bit-code collisions, true Hamming answers)")
    assert(ham036 >= rep * nExactBase,
      s"q36 lost within-replica exact-dup pairs: $ham036 < ${rep * nExactBase}")
    // Linear-volume ceiling decomposed along what is and isn't a hash
    // draw (ADVICE r11: a flat 3×rep×base ceiling treats the whole base
    // count as re-drawable and can flake when the base has few near
    // pairs): the EXACT component (identical shingle sets ⇒ identical
    // codes) is salt-independent — exactly rep × nExactBase; the NEAR
    // component (Hamming 1–7) is a fresh draw per replica around the
    // base draw's mean, allowed 3× per replica PLUS an additive
    // 8/replica that absorbs small-sample noise when the base near
    // count is ~0 (a mean-2 draw summed over R replicas stays under
    // 8R with overwhelming probability; any systematic regression —
    // a key-space or cap bug — is orders of magnitude larger).
    val nearBase36 = math.max(0L, nBase36 - nExactBase)
    val ceil36 = rep * nExactBase + 3L * rep * nearBase36 + 8L * rep + cross36
    assert(n36 <= ceil36,
      s"q36 distinct volume is super-linear: $n36 pairs vs ceiling $ceil36 " +
        s"(base exact $nExactBase + near $nearBase36 x $rep)")

    // ---- q102: label table is R copies of the base's (bounded dev) ----
    val baseLbl = SparkEntry.queries("q102_dedup_cluster")(spark, srcDir)
      .localCheckpoint()
    val (xLbl, sLbl) = timed {
      SparkEntry.queries("q102_dedup_cluster")(spark, outDir)
        .localCheckpoint() } // label-table-sized (R × base near-dup docs)
    // label deviations inherit the pair deviations (a missed pair can
    // split a replica's cluster or drop a pairless doc from the
    // table) — same split: bounded small, never systematic
    val projLbl = xLbl.select(baseId("doc_id").as("doc_id"),
        baseId("cluster_id").as("cluster_id"),
        col("cluster_size"), col("is_keeper"))
      .groupBy("doc_id", "cluster_id", "cluster_size", "is_keeper")
      .agg(count(lit(1)).as("n"))
    val devLbl = projLbl.join(
        baseLbl.withColumn("w", lit(1L)),
        Seq("doc_id", "cluster_id", "cluster_size", "is_keeper"),
        "full_outer")
      .select(abs(coalesce(col("n"), lit(0L)) -
        when(col("w").isNotNull, rep.toLong).otherwise(0L)).as("dev"))
      .agg(coalesce(sum(col("dev")), lit(0L)).cast("long"))
      .collect()(0).getLong(0)
    val (nLbl, nBaseLbl) = (xLbl.count(), baseLbl.count())
    println(f"[stress] q102 distinct x$rep: $nLbl%,d labeled docs " +
      f"(base $nBaseLbl%,d x $rep) in $sLbl%.1f s; deviation " +
      f"$devLbl/${rep * nBaseLbl}%,d row instances")
    assert(devLbl <= math.max(8L, rep * nBaseLbl / 200L),
      s"q102 x$rep label deviation $devLbl exceeds 0.5% - systematic " +
        "clustering divergence, not pair-draw noise")

    // ---- q111/q112: apply/report conservation at corpus scale ----
    // (r12, closing VERDICT r11 #4: the label CONSUMERS never ran in
    // the distinct regime.) Deterministic invariants first: the report
    // must agree with the corpus (n_docs), with the salt's injectivity
    // (distinct texts are exactly R-fold — within a replica the token
    // map is bijective, across replicas disjoint), with the memoized
    // pair table (n_near_pairs ≡ the q35 total this run already
    // verified), and with the apply step (n_kept ≡ q111's row count —
    // kept + dropped = corpus, by the report's own construction).
    // The kept COUNT itself inherits the per-replica pair draws, so
    // R-fold exactness is asserted modulo the same 0.5% bound as q102.
    val baseKept = SparkEntry.queries("q111_dedup_apply")(spark, srcDir).count()
    val baseDocs = Tables.documents(spark, srcDir).count()
    val baseTexts = Tables.documents(spark, srcDir)
      .select("text").distinct().count()
    val (n111, s111) = timed {
      SparkEntry.queries("q111_dedup_apply")(spark, outDir).count() }
    val (row112, s112) = timed {
      SparkEntry.queries("q112_dedup_report")(spark, outDir).collect()(0) }
    val (nDocsX, nTextsX, nPairsX, nKeptX) =
      (row112.getAs[Long]("n_docs"), row112.getAs[Long]("n_distinct_texts"),
        row112.getAs[Long]("n_near_pairs"), row112.getAs[Long]("n_kept"))
    println(f"[stress] q111/q112 distinct x$rep: kept $n111%,d of " +
      f"$nDocsX%,d docs (base kept $baseKept%,d x $rep) in " +
      f"$s111%.1f + $s112%.1f s")
    assert(nDocsX == rep * baseDocs,
      s"report n_docs $nDocsX != corpus ${rep * baseDocs}")
    assert(nTextsX == rep * baseTexts,
      s"report n_distinct_texts $nTextsX != ${rep * baseTexts} " +
        "(the salt must keep distinct texts exactly R-fold)")
    assert(nPairsX == q35Total,
      s"report n_near_pairs $nPairsX != the verified q35 total $q35Total")
    assert(nKeptX == n111,
      s"report n_kept $nKeptX != apply's $n111 rows - kept + dropped " +
        "no longer partitions the corpus")
    val devKept = math.abs(n111 - rep * baseKept)
    assert(devKept <= math.max(8L, rep * baseKept / 200L),
      s"q111 x$rep kept-count deviation $devKept exceeds 0.5% - " +
        "systematic apply divergence, not pair-draw noise")

    // ---- q136: incremental ≡ full, at corpus scale ----
    // (r12, VERDICT r11 #3's stress hook.) The standing-index probe
    // plus the base-only symmetric run must reproduce the full pair
    // table this run already verified: EXACT pairs perfectly (both
    // paths' exact-signature recall is deterministic), near pairs
    // within the same 0.1% LSH-draw bound as pairInvariance — bucket
    // populations differ between the full and split runs, so a
    // borderline pair's banding draw can resolve differently, but any
    // systematic probe hole (a key-space or cap bug) is orders larger.
    // Wrapped release (cf. the q35/q37/q36 sections): the standing
    // index and the base-only rerun are the two biggest block sets of
    // the whole mode, all consumed inside this section; the memoized
    // index and pair tables go with Memo.release after it (this is the
    // JVM's last consumer of the scaled dir).
    releasingExcept(spark) { locally {
    val split136 = DedupQueries.incrementalSplit(spark, outDir)
    val (xIncr, sIncr) = timed {
      DedupQueries.incrementalPairs(spark, outDir).localCheckpoint() }
    val (xBase136, sBase136) = timed {
      DedupQueries.nearDupPairsBelow(spark, outDir, split136)
        .localCheckpoint() }
    val pj = Seq("a", "b", "jaccard")
    val recon = xBase136.select(pj.map(col): _*)
      .union(xIncr.select(pj.map(col): _*))
    val full = xQ35.select(pj.map(col): _*)
    val exactMissed = full.filter(col("jaccard") === 1.0)
      .exceptAll(recon.filter(col("jaccard") === 1.0)).count()
    val exactInvented = recon.filter(col("jaccard") === 1.0)
      .exceptAll(full.filter(col("jaccard") === 1.0)).count()
    val nearDev136 = full.filter(col("jaccard") < 1.0)
      .exceptAll(recon.filter(col("jaccard") < 1.0)).count() +
      recon.filter(col("jaccard") < 1.0)
        .exceptAll(full.filter(col("jaccard") < 1.0)).count()
    val nIncr = xIncr.count()
    println(f"[stress] q136 distinct x$rep: $nIncr%,d incremental pairs " +
      f"(split $split136%,d) in $sIncr%.1f s (base-only rerun " +
      f"$sBase136%.1f s); exact missed/invented $exactMissed/" +
      f"$exactInvented, near deviation $nearDev136")
    assert(nIncr > 0, "q136 found no pairs touching the increment")
    assert(exactMissed == 0L && exactInvented == 0L,
      s"q136 union base-only diverged from the full rerun on EXACT pairs " +
        s"($exactMissed missed, $exactInvented invented)")
    assert(nearDev136 <= math.max(4L, q35Total / 1000L),
      s"q136 union base-only near-pair deviation $nearDev136 exceeds 0.1% - " +
        "systematic incremental recall hole, not LSH draw noise")

    // ---- q137: incremental APPLY ≡ full apply, restricted (r13) ----
    // The kept rows the daily append would publish for the shard must
    // match the full q111 rerun's kept set restricted to the shard.
    // Exact equality holds only when both runs see the same pair set;
    // the per-replica LSH draws give each side its own borderline
    // resolutions, so the symmetric difference gets the q102/q111
    // 0.5% bound, not zero.
    val (x137, s137) = timed {
      DedupQueries.incrementalApplyWith(
        DedupQueries.incrementalIndex(spark, outDir), outDir,
        // the production q137 shape (r14): the apply step consumes the
        // pair table the q136 leg above just materialized — s137 times
        // the APPLY alone, not a second pair-pipeline run
        pairsOverride = Some(xIncr))
        .select("doc_id").localCheckpoint() }
    val fullKeptNew = SparkEntry.queries("q111_dedup_apply")(spark, outDir)
      .filter(col("doc_id") >= split136).select("doc_id").localCheckpoint()
    val nFullNew = fullKeptNew.count()
    val dev137 = x137.exceptAll(fullKeptNew).count() +
      fullKeptNew.exceptAll(x137).count()
    val n137 = x137.count()
    println(f"[stress] q137 distinct x$rep: kept $n137%,d shard docs " +
      f"(full-rerun restriction $nFullNew%,d) in $s137%.1f s; " +
      f"symmetric difference $dev137")
    assert(n137 > 0, "q137 kept nothing for the increment shard")
    assert(dev137 <= math.max(8L, nFullNew / 200L),
      s"q137 x$rep kept-set deviation $dev137 exceeds 0.5% - systematic " +
        "apply divergence, not pair-draw noise")
    } }
    Memo.release(outDir)

    println(f"[stress] distinct x$rep: corpus x$rep, pair volume linear " +
      "(~ R x base) - the constant-near-dup-rate regime holds")
  }

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val rep = if (args.length > 1) args(1).toInt else 8
    // "dedup" (default): the r4+ dedup/CC/ANN clique-recall harness on
    // a ×R replicated dir — the FLOOD regime (every doc an R-clique;
    // C(R,2) output growth, the worst-case shape). "distinct": ×R
    // corpus with per-replica text perturbation — BASE near-dup rate,
    // linear pair volume, the realistic 100 TB shape (see
    // buildDistinctDocs/runDistinct; the two regimes bracket the real
    // workload). "streams": the stream family at ×R on a
    // DISTINCT-regime dir, with per-query final-batch state rows
    // asserted LINEAR in R against a base-dir run.
    val mode = if (args.length > 2) args(2) else "dedup"
    val spark = SparkEntry.localSession(Conf.cpus,
      // Compress persisted serialized blocks (static core conf, so set
      // here, not per-session). Shuffle spill is compressed by default
      // but DISK_ONLY / *_SER checkpoint blocks are NOT — at ×512 the
      // uncompressed pair-table write (654 M member/pair rows) filled
      // a 61 GB scratch disk while the heap stayed healthy. The
      // blocks are highly redundant (sorted ids, repeated structs);
      // lz4 shrinks them several-fold for negligible CPU next to the
      // joins they feed. A production cluster runs persisted
      // serialized blocks compressed for the same reason.
      "spark.rdd.compress" -> "true")
    spark.sparkContext.setLogLevel("ERROR")

    // Session confs (same contract as Bench's, see Conf.applyConfEnv),
    // e.g. SPARK_GRAFT_CONF="spark.graft.dedup.verifySlices=4" for the
    // ×4096 q37 probe, "spark.graft.stream.maxFilesPerTrigger=2" for
    // the multi-micro-batch Kafka-regime probe (VERDICT r15 #5). A
    // multi-batch disk-envelope probe keeps its checkpoint dir lean
    // (r16: the default minBatchesToRetain=100 never deletes a version
    // in a ≤9-batch probe) with Spark's own confs through the same
    // variable: spark.sql.streaming.minBatchesToRetain=2;
    // spark.sql.streaming.stateStore.maintenanceInterval=15s;
    // spark.sql.streaming.ratioExtraSpaceAllowedInCheckpoint=0.0
    Conf.applyConfEnv(spark)

    if (mode == "distinct") {
      runDistinct(spark, srcDir, rep)
      spark.stop()
      return
    }

    if (mode == "distinct37") {
      runDistinct37(spark, srcDir, rep)
      spark.stop()
      return
    }

    // build-only modes: materialize a stress dir and exit, so Bench
    // (SPARK_GRAFT_SF_DIR=target/stress_* [SPARK_GRAFT_ONLY=qNN]) can
    // drive any single query against it WITH its per-action dump — the
    // stress asserts prove correctness at ×R, the bench attributes
    // where an ×R wall actually goes
    if (mode == "build" || mode == "builddistinct") {
      val outDir = if (mode == "build") s"target/stress_x$rep"
        else s"target/stress_distinct_x$rep"
      val t0 = System.nanoTime()
      // both dirs are COMPLETE (r12) — Bench runs on either without
      // symlinking tables in
      buildDir(spark, srcDir, outDir, rep, distinctDocs = mode == "builddistinct")
      println(f"[stress] built $outDir in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      spark.stop()
      return
    }

    if (mode == "streams") {
      // r12 (VERDICT r11 #6): the stream family runs on the DISTINCT
      // dir — the realistic corpus shape, same scale as the dedup
      // distinct gates; the events table is the same ×R replication in
      // both regimes (user_id diluted — see buildDir), only the
      // documents differ. Beyond zero-errors, each query's final-batch
      // state rows are now asserted LINEAR in R: a base-dir run
      // supplies per-query floors, and the scaled run must stay under
      // 2·R·base + 64 (2× for boundary-window/buffer headroom; +64
      // absorbs ~0 bases) — a quadratic state blowup (the r9 undiluted
      // user_id class) fails this long before it OOMs.
      val outDir = s"target/stress_distinct_x$rep"
      val tB = System.nanoTime()
      buildDir(spark, srcDir, outDir, rep, distinctDocs = true)
      println(f"[stress] built $outDir in ${(System.nanoTime() - tB) / 1e9}%.1f s")
      val baseState = runStreamFamily(spark, srcDir)
        .map(r => r._1 -> r._4).toMap
      val tS = System.nanoTime()
      val res = runStreamFamily(spark, outDir)
      val wall = (System.nanoTime() - tS) / 1e9
      assert(res.forall(_._2 > 0), "a stream query returned no rows at x" + rep)
      res.foreach { case (name, _, _, st) =>
        val bound = 2L * rep * baseState.getOrElse(name, 0L) + 64L
        assert(st <= bound,
          s"$name state rows $st exceed the linear bound $bound (base " +
            s"${baseState.getOrElse(name, 0L)} x $rep) - super-linear " +
            "state growth")
      }
      println(f"[stress] stream family x$rep distinct: " +
        f"${res.size} queries, ${res.map(_._2).sum}%,d total rows, " +
        f"${res.map(_._4).sum}%,d final-batch state rows, " +
        f"$wall%.1f s, zero errors, state linear in R")
      spark.stop()
      return
    }

    if (mode == "stream1") {
      // Instrumented SINGLE stream-query probe (r15, VERDICT r14 #1:
      // attribute q138's superlinear ×1024 wall). Runs ONE stream
      // family query on the ×R distinct dir inside a graft.Profile:
      //  - the stream's final StreamingQueryProgress JSON (durationMs
      //    breakdown + stateOperators incl. the RocksDB custom
      //    metrics: flush/compaction/commit latencies, bytes);
      //  - per-ACTION task totals (wall, task run/CPU, GC, shuffle
      //    read/write, spill, input bytes; each micro-batch is a
      //    `localCheckpoint` action) and the scope's totals;
      //  - host steal/iowait + native-thread CPU by class around the
      //    run (the ×1024 probe log recorded no per-run steal — the
      //    gap the verdict named).
      // The dir is REUSED if complete (the ×1024 build is 15 GB /
      // ~9 min); spark.graft.stream.maxFilesPerTrigger reaches the
      // query through SPARK_GRAFT_CONF for A/B runs.
      val qname = if (args.length > 3) args(3) else "q138_stream_dedup_near"
      val fn = graft.streaming.StreamingQueries.queries.find(_.name == qname)
        .getOrElse(sys.error(s"unknown stream query $qname")).build
      val outDir = s"target/stress_distinct_x$rep"
      val allTables = Seq("region", "nation", "customer", "supplier",
        "part", "orders", "lineitem", "documents", "embeddings", "events")
      if (allTables.forall(t => new java.io.File(s"$outDir/$t.parquet").exists()))
        println(s"[probe] reusing complete $outDir")
      else {
        val tB = System.nanoTime()
        buildDir(spark, srcDir, outDir, rep, distinctDocs = true)
        println(f"[probe] built $outDir in ${(System.nanoTime() - tB) / 1e9}%.1f s")
      }
      val st0 = Bench.procStat()
      val th0 = Bench.threadCpuByClass()
      // 1 Hz peak-disk sampler (r16, same as distinct37's): the ×2048
      // single-batch legs died on TRANSIENT disk (sort spill + SSTs +
      // checkpoint co-resident), so every stream probe now records its
      // own min-free — the envelope number the post-mortem had to
      // reconstruct from 1 Hz `df` eyeballs.
      val free0 = new java.io.File("/").getUsableSpace
      val minFree = new java.util.concurrent.atomic.AtomicLong(free0)
      @volatile var sampling = true
      val diskSampler = new Thread(() => {
        while (sampling) {
          val f = new java.io.File("/").getUsableSpace
          minFree.getAndUpdate(m => math.min(m, f))
          Thread.sleep(1000)
        }
      }, "stream1-disk-sampler")
      diskSampler.setDaemon(true)
      diskSampler.start()
      val t0 = System.nanoTime()
      val p = try Profile.of(spark)(fn(spark, outDir).count())
        finally sampling = false
      val wall = (System.nanoTime() - t0) / 1e9
      val th1 = Bench.threadCpuByClass()
      val st1 = Bench.procStat()
      val n = p.value
      val state = stateRows(p)
      p.streams.foreach(sp => println(s"[probe] progress ${sp.json}"))
      val rows = p.actions.sortBy(-_.tasks.runMs)
      println("[probe] actions by task run time (top 30 of " +
        s"${rows.size}; wall=action duration, run/cpu/gc=task sums):")
      println("[probe]  tasks    wall     run     cpu      gc " +
        "  shRdMB  shWrMB  spillMB  inputMB  action")
      def row(t: Profile.Tasks, wallS: Double, what: String): Unit =
        println(f"[probe] ${t.tasks}%6d $wallS%7.1f ${t.runMs / 1e3}%7.1f " +
          f"${t.cpuNs / 1e9}%7.1f ${t.gcMs / 1e3}%7.1f ${t.shuffleReadBytes / 1e6}%8.1f " +
          f"${t.shuffleWriteBytes / 1e6}%7.1f ${t.spillBytes / 1e6}%8.1f " +
          f"${t.inputBytes / 1e6}%8.1f  $what")
      rows.take(30).foreach(a => row(a.tasks, a.durationNs / 1e9, a.name))
      row(p.tasks, wall, s"(scope: ${p.jobs} jobs)")
      val steal = (st0, st1) match {
        case (Some((_, _, w0, s0)), Some((_, _, w1, s1))) =>
          f""""steal_s":${(s1 - s0) / 100.0}%.1f,"iowait_s":${(w1 - w0) / 100.0}%.1f,"""
        case _ => ""
      }
      val thr = (th0.keySet ++ th1.keySet).toSeq.sorted.map(k =>
        s""""$k":${(th1.getOrElse(k, 0L) - th0.getOrElse(k, 0L)) / 100.0}""")
        .mkString("{", ",", "}")
      val nparts = p.streams.flatMap(_.stateOperators)
        .map(_.numShufflePartitions).maxOption.getOrElse(0L)
      println(s"""[probe] summary {"query":"$qname","rep":$rep,"rows":$n,""" +
        f""""wall_s":$wall%.1f,"state_rows":$state,""" +
        f""""peak_disk_gb":${(free0 - minFree.get) / 1e9}%.2f,""" +
        f""""min_free_gb":${minFree.get / 1e9}%.2f,""" +
        s""""partitions":$nparts,$steal"thread_cpu_s":$thr}""")
      spark.stop()
      return
    }

    val outDir = s"target/stress_x$rep"
    val tB = System.nanoTime()
    buildDir(spark, srcDir, outDir, rep)
    println(f"[stress] built $outDir in ${(System.nanoTime() - tB) / 1e9}%.1f s")

    // clique ground truth: docs eligible for the 2-shingle pipelines
    val nElig = Tables.documents(spark, outDir)
      .filter(size(array_distinct(
        T.wordNGrams(T.tokens(col("text")), 2))) >= 1).count()
    val want = (nElig / rep) * rep * (rep - 1) / 2
    // q37's pipeline needs ≥3 tokens (word 3-grams), so its clique
    // population is its own count
    val nElig37 = Tables.documents(spark, outDir)
      .filter(size(T.tokens(col("text"))) >= 3).count()
    val want37 = (nElig37 / rep) * rep * (rep - 1) / 2

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def cliqueCheck(name: String, wantPairs: Long): Unit = {
      // q36's QUERY entry is the one-row contract view; its pair set —
      // what clique recall is about — comes from the factored pair
      // pipeline the contract view itself aggregates.
      def pairsOf(n: String) =
        if (n == "q36_dedup_simhash")
          graft.queries.DedupQueries.simHashPairsFor(spark, outDir)
        else SparkEntry.queries(n)(spark, outDir)
      // Both counts in ONE aggregate pass: global partial counts are
      // O(1) memory per task, so the harness holds NOTHING
      // output-sized — at flood ×256 the forced pair set is ~312 M
      // rows, and the earlier materialize-then-count shape (a
      // localCheckpoint of the whole pair set, ~7.5 GB even
      // serialized) was the harness's own heap ceiling, hit right
      // after the engine's had been fixed. Engine-side intermediates
      // (the memoized q35/q102 pair table, bucket checkpoints) still
      // materialize inside pairsOf — that is the measured path.
      val (row, secs) = timed {
        pairsOf(name).agg(
          count(lit(1)).as("n"),
          count(when(col("a") % Base === col("b") % Base, 1)).as("clique"))
          .collect()(0)
      }
      val n = row.getLong(0)
      val clique = row.getLong(1)
      println(f"[stress] $name x$rep: $n%,d pairs in $secs%.1f s; " +
        f"clique recall $clique%,d / $wantPairs%,d " +
        f"(${100.0 * clique / wantPairs}%.2f%%)")
      assert(clique == wantPairs, s"$name lost ${wantPairs - clique} clique pairs")
    }
    releasingExcept(spark) { cliqueCheck("q36_dedup_simhash", want) }
    // q35's check builds the memoized pair table q102 re-reads (Memo
    // keeps it); the pipeline's other checkpoints are released
    releasingExcept(spark) { cliqueCheck("q35_dedup_minhash", want) }
    // q37: the 100%-duplicated corpus is its adversarial shape — every
    // candidate used to need a corpus-sized gram fetch (16.6 s in r5);
    // the exact-signature shortcut must keep recall at 1 while the
    // verify stage sees only the non-exact remainder.
    releasingExcept(spark) { cliqueCheck("q37_ngram_jaccard", want37) }

    // q102 at ×R: cluster structure over the replicated pair graph.
    // Every base doc's R replicas are an exact-copy clique, so every
    // connected component holds all R replicas of each base member —
    // cluster sizes must be multiples of R (2R+ where base-level
    // near-dups merge components), and the labeling must cover every
    // doc that appears in a pair.
    // released wholesale after the asserts, memoized pairs and labels
    // included (Memo.release): their stress consumers all live inside
    // this block (q111/q112 reuse is a gate concern, not a stress one),
    // and the loop's per-round checkpoints are pure scratch
    releasingExcept(spark) { locally {
      val (labels, secs) = timed {
        SparkEntry.queries("q102_dedup_cluster")(spark, outDir)
          .localCheckpoint()
      }
      val nLabeled = labels.count()
      // modulus is the REPLICATION FACTOR (was hardcoded 8 from the
      // original ×8 harness: any correct ×70/×150 flood clustering
      // "failed" because 70 and 140 are not multiples of 8)
      val badSizes = labels.select(col("cluster_size")).distinct()
        .filter(col("cluster_size") % rep =!= 0).count()
      val nClusters = labels.select(col("cluster_id")).distinct().count()
      println(f"[stress] q102 x$rep: $nLabeled%,d docs in $nClusters%,d " +
        f"clusters in $secs%.1f s")
      assert(badSizes == 0, s"$badSizes cluster sizes not a multiple of $rep")
      assert(nLabeled > 0)
    } }
    Memo.release(outDir)

    // q133 at ×R: l_partkey is a dim key (NOT offset by replication),
    // so the ×R co-purchase edge set must DEDUP to exactly the base
    // dir's — same nodes, same degrees, same N — and the 5-round
    // integer ranks must come out bit-identical. An end-to-end check
    // that the distinct → degree → fixpoint pipeline collapses an
    // 8×-duplicated pair stream without drift.
    locally {
      val (x8, secs) = timed {
        SparkEntry.queries("q133_pagerank")(spark, outDir)
          .collect().map(_.toSeq).toSeq
      }
      val base = SparkEntry.queries("q133_pagerank")(spark, srcDir)
        .collect().map(_.toSeq).toSeq
      println(f"[stress] q133 x$rep: top-${x8.size} ranks in $secs%.1f s; " +
        s"replica-invariance ${if (x8 == base) "EXACT" else "BROKEN"}")
      assert(x8 == base,
        "xR pagerank diverged from base - dedup or degree drift")
    }

    // ANN at ×R: brute top-k scan, then IVF cold (sampled fit +
    // persisted assignment) vs warm (index memoized per dir)
    def timeQuery(name: String): Double = {
      val (df, secs) = timed { SparkEntry.queries(name)(spark, outDir) }
      val t1 = System.nanoTime()
      val n = df.count()
      val total = secs + (System.nanoTime() - t1) / 1e9
      assert(n > 0, s"$name returned no rows")
      total
    }
    val brute = timeQuery("q39_ann_brute")
    val ivfCold = timeQuery("q51_ann_ivf")
    val ivfWarm = timeQuery("q51_ann_ivf")
    println(f"[stress] q39 brute top-k x$rep: $brute%.1f s; " +
      f"q51 IVF cold $ivfCold%.1f s, warm $ivfWarm%.1f s")
    spark.stop()
  }
}
