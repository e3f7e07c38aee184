package graft.queries

import graft.{Conf, Tables}
import graft.functions.{CosineSim, Hashing, TextFunctions => T}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication family: exact, MinHash, SimHash, n-gram and embedding
  * near-dup pairs (q34–q38), the pipeline steps after them — cluster
  * assignment, corpus apply and report (q102, q111, q112) — the
  * incremental index and apply (q136, q137), and the overlap detectors
  * that share its machinery: benchmark decontamination (q70) and
  * shared-span substring dedup (q85).
  *
  * Scale design: candidate generation always goes through an
  * exact-match blocking key (LSH band / SimHash chunk / hyperplane
  * bucket) so the only full-table shuffle is on small (id, key) rows —
  * never an all-pairs comparison and NEVER the feature arrays
  * (shingles / grams / embeddings). For array-typed features
  * (q35/q37/q38) the verify stage fetches features for the
  * candidate-id set only: candidates are bounded by the bucket cap
  * (≤ buckets × C(MaxBucket,2)) and in practice by the corpus
  * dup-rate, so the exchange feeding the verify join is sized by the
  * number of near-dup candidates, not by the corpus. A fixed-width
  * scalar feature (q36's 8-byte SimHash) instead ships WITH the id
  * through blocking — no verify join at all.
  */
object DedupQueries {

  /** Max docs in one blocking bucket before it's dropped as degenerate
    * (exact-dup flood → q34's job; protects the pair join from
    * quadratic blowup and shuffle skew at scale).
    */
  val MaxBucket = 64

  /* `Conf.CandBroadcastMaxRows`: above this many candidate ids the
    * verify-fetch joins flip from broadcast to shuffle-hash (see [[attachFeaturesBy]]). Rationale:
    * verify features run 0.1–3 KB/row (hashed shingle/gram arrays,
    * float embeddings), so 2^18 rows bound the broadcast build at
    * ~25–800 MB — comfortably inside a worker heap. Past it, a
    * driver-built hash relation is the first thing to die at scale
    * (found at ×128: q36's output-sized contract probe OOM'd the 8 g
    * heap at ~78 M pairs), while the flipped strategy distributes the
    * build with the exchange still candidate-sized. Tunable per
    * session (tests pin both shapes).
    */

  /* `Conf.FetchIdsPerPartition`: candidate ids per build partition on
    * the flipped (shuffle-hash) verify path — see the fetchParts
    * rationale in [[attachFeaturesBy]]: hash-relation builds are not
    * spillable, so the partition count must grow with the measured
    * candidate count. A deployment with wider features sizes builds
    * down the same way it sizes shuffle partitions.
    *
    * Default sizing against the PER-TASK execution cap, not the pool:
    * with T concurrent tasks Spark caps each task at ~pool/T (8 g ×
    * 0.6 / 32 ≈ 150 MB here), and the whole cap must fit the build
    * PLUS its probe-side buffers while corpus-sized checkpoints fight
    * for the rest of unified memory. 16k ids × 0.1–3 KB rows put
    * single builds at 50–100 MB — measured BORDERLINE at ×512
    * distinct (passed a quiet ScaleStress run, failed the same data
    * in a bench session with q35's bucket checkpoint resident:
    * "Can't acquire 64 MB … got 57 MB"). 4096 ids ≈ ≤12 MB builds —
    * an order of magnitude of headroom for the same candidate-sized
    * total exchange, at the cost of ~4× more (cheap, small) tasks.
    */

  /* `Conf.BucketScanBytesPerPartition`: scan bytes per partition for
    * the BUCKET-AGGREGATION exchanges —
    * the blocking groupBys that collect (band/chunk/key → member
    * structs). AQE only merges partitions, so those exchanges
    * otherwise run at most at the session's static shuffle partitions,
    * and at distinct ×512 that WAS q35's wall (r11 stage maps: 43 M member
    * structs over 32 partitions — 207 s of spill-bound collect_list,
    * the exact analog of the verify-width fix one stage earlier).
    * Sizing basis: the corpus SCAN's plan-time size estimate (free —
    * parquet footer file sizes; no extra action). Member-struct volume
    * runs ~3–20× compressed scan bytes on this testdata (tiny docs,
    * fixed ~200 B structs × 17 keys/doc), so 2 MB of scan bytes per
    * partition lands bucket partitions at roughly 8–64 MB of shuffled
    * structs — inside a task's execution share with headroom. Clamped
    * to [1, 16384]: proportional in BOTH directions since r16 (a tiny
    * corpus no longer fans its bucket exchanges out to the session
    * width — see the floor-removal note in [[bucketAggParts]]); the
    * ceiling bounds task-count blowup if a stats estimate is ever
    * wildly inflated (a LogicalRDD with unknown stats reports
    * defaultSizeInBytes ≈ Long.Max and is treated as unknown →
    * session partitions).
    */
  private[graft] val BucketMaxParts = 16384

  /** Bucket-agg partition count for a pipeline whose corpus scan is
    * `scan` (see `Conf.BucketScanBytesPerPartition`). Deterministic
    * per run: reads plan-time stats, never runs a job.
    */
  private[graft] def bucketAggParts(scan: DataFrame): Int = {
    val s = scan.sparkSession
    val base = s.conf.get("spark.sql.shuffle.partitions").toInt
    val per = Conf.BucketScanBytesPerPartition(s)
    val bytes = scan.queryExecution.optimizedPlan.stats.sizeInBytes
    // > 1 PB ⇒ the "unknown size" sentinel (defaultSizeInBytes), not a
    // real corpus measurement — fall back to the session's static width
    if (bytes <= 0 || bytes > BigInt(1L << 50)) base
    // Scale-adaptive BOTH ways (r16, optimization round; guide §2.2 —
    // fewer, larger partitions): the old `max(base, …)` floor pinned
    // every bucket exchange to the session width even when the corpus
    // measures a handful of 2 MB budget units, so a gate-scale corpus
    // ran its bucket aggs, bucket checkpoints and (×4-derived) q136
    // index/probe widths at 32–128 partitions of near-empty data —
    // measured ~25–55 ms of fixed CPU per task in this sandbox, pure
    // overhead multiplied by every downstream scan of those
    // checkpoints. The width now follows the measured bytes/partition
    // budget in both directions: per-partition volume is ~constant by
    // construction (the invariant this knob exists to enforce), and
    // the compute-heavy stages keep their own explicit widths (the
    // signature map side runs at the scan/fanOut partitioning; the
    // quadratic pair expansions size off their measured pair-volume
    // estimate — see [[PairsPerTask]]). Large corpora are
    // unaffected: past ~64 MB of scan bytes the derived width exceeds
    // any session width the driver uses.
    else (bytes / per + 1).min(BigInt(BucketMaxParts)).toInt
  }

  /** Quadratic pair-expansion width budget, in ESTIMATED PAIRS per
    * task (r16, optimization round). The expansion stages used to
    * spread to `max(defaultParallelism, bucketParts)` — a floor tuned
    * to the local core count, the exact class of constant guide §2
    * says to replace with a size-derived width. Every pipeline already
    * MEASURES its pair volume before expanding (the `est_pairs`
    * observation riding the bucket checkpoint's own job / q36's
    * driver-side size census), so the width now follows that estimate:
    * 2 Mi pairs per task ≈ 70–180 MB of expansion output (§2.2's
    * 100 MB–1 GB partition target; pairs stream through the stage,
    * nothing is held) and ~1–2 s of expansion CPU per task. Sized
    * against the estimate's own bias: the oversized-bucket term
    * (4·MaxBucket·sz) deliberately over-counts re-block output ~100×
    * in the flood regime (it is a storage-escalation bound, not a
    * prediction) — at 256 Ki/task that overestimate ballooned the
    * flood gate's expansions to ~550 near-empty tasks (measured:
    * q35 ×70 flood 9.0 → 21.4 s); at 2 Mi/task the same flood sizes
    * to ~70, and a real 100 TB-scale pair set (billions) still gets
    * thousands of partitions. Floored at the (corpus-proportional)
    * bucket-table width so a corpus-wide bucket set is never
    * funnelled down, and capped like [[BucketMaxParts]].
    */
  private val PairsPerTask = 2097152L

  private[graft] def expandWidth(estPairs: Long, floor: Int): Int = {
    val est = math.min(estPairs / PairsPerTask + 1L, BucketMaxParts.toLong).toInt
    math.max(math.max(1, floor), est)
  }

  /** q36 level-3 re-block budget, in KEYED ROWS (members × 8
    * interleaved keys). Through r12 level 3 ran as a global
    * explode→shuffle→sort pipeline and this guard bounded its ~24 B/
    * keyed-row scratch volume against the box's local disk (the
    * ×1024 probe's ~2.6 B rows exhausted ~40-60 GB of scratch). r13's
    * [[level3BucketPairs]] subdivides each oversized sub-bucket
    * LOCALLY (the l3 key is scoped inside the l2 key, so buckets
    * never interact) — zero exchange, CPU linear in forwarded
    * members — so the guard should never trip on
    * realistic data; it remains as a bounded-degradation valve for
    * adversarial floods. Past the budget, level 3 is SKIPPED — loudly
    * (stderr) and visibly: the same kernel still runs in
    * sentinel-only mode, so the `simhash_reblock`/`simhash_reblock3`
    * drop accounting stays in the executed plan (through r12 the skip
    * branch was Filter(false) and PruneFilters erased the metrics —
    * ADVICE r12). The decision reads the MEASURED forwarded-member
    * count off the sub-bucket checkpoint's own job (observe — no
    * extra action).
    */
  // Re-derived for the localized kernel (r13): the old 1.5 B
  // bounded ~24 B/keyed-row SHUFFLE scratch, which no longer exists —
  // the ×512 distinct corpus already measures ~1.3 B keyed-row
  // equivalents, so ×2048 (~5.2 B) would have tripped a guard that
  // now only bounds LINEAR in-memory CPU (8 counting-sort passes) and
  // capped, output-sized pair expansion (≤ ~252 pairs/member at full
  // saturation). 16 B keyed rows ≈ 2 B forwarded members ≈ minutes of
  // kernel CPU on one box — the valve now trips only on floods an
  // order past the measured single-JVM envelope.
  private val Level3MaxRows: Long = 16L * 1000L * 1000L * 1000L

  /* Storage level (`Conf.pairStorageLevel`) for PAIR/OUTPUT-sized
    * eager materializations, stored SERIALIZED by default. The plain localCheckpoint keeps
    * deserialized UnsafeRow objects in the memory store — per-row
    * object headers inflate a 40 M-pair set ~2× and the value-unroll
    * path is where the ×128 flood OOM'd (UnsafeRow.copy inside
    * putIteratorAsValues). Serialized blocks pack into chunked buffers
    * with incremental accounting, evict to disk cleanly, and halve the
    * resident cost; the decode on re-read is a stream-scan, cheap next
    * to the joins these feed. Corpus-bounded narrow intermediates (id
    * sets, signatures) keep the default level.
    *
    * TUNABLE (r10): at flood ×256 even the serialized pair table
    * (~164 M rows) competes with the shuffle-hash verify working set
    * for ONE local JVM's unified memory — on a real cluster the same
    * intermediate is written to storage and read back, with no
    * memory-pool residency at all. `DISK_ONLY` models exactly that
    * (local-disk blocks, zero storage-pool pressure) and extends the
    * default-heap envelope. Set as `Conf.PairStorageLevelKey` (Bench,
    * Verify and ScaleStress take it through `SPARK_GRAFT_CONF`);
    * unset, `MEMORY_AND_DISK_SER`. Gate-scale runs keep the default:
    * pair tables there are tiny and re-read hot.
    */

  /* `Conf.PairDiskOnlyMinRows`: the measured-volume escalation
    * threshold (r11, closing VERDICT r10 #5): when a pipeline's estimated pair-expansion volume crosses
    * this row count, its remaining pair-sized checkpoints auto-select
    * `DISK_ONLY` — no explicit pin needed at deployment scale. Rationale:
    * DISK_ONLY is strictly FASTER once the pair table competes with
    * the verify working set for unified memory (flood ×256 on the
    * default 8 g heap: q35 154.9 s DISK_ONLY vs 336.8 s serialized on
    * 16 g — the storage pool stops thrashing evictions against the
    * shuffle-hash verify build), while below it the hot re-reads favor
    * the serialized-memory default. The estimate rides the bucket
    * checkpoint's own job as an `observe` metric (zero extra actions);
    * an EXPLICIT level pin always wins over the auto decision (the
    * auto-escalation must never override an explicit choice).
    */

  /** One pipeline's storage level for its pair-sized checkpoints: the
    * session's `Conf.pairStorageLevel` until [[escalateIf]] sees the
    * pipeline's measured volume cross its threshold, `DISK_ONLY` for
    * every [[checkpoint]] after that. The pipeline holds it — the pair
    * stage and the incremental index carry theirs to the queries that
    * read them (CC edges, q136/q137) — and nothing is written to the
    * session, which may be shared. An explicit pin always wins.
    */
  private[graft] final class PairStorage {
    private var diskOnly = false

    def escalateIf(s: SparkSession, cond: Boolean, why: => String): Unit =
      if (cond && !diskOnly && !Conf.pairStorageLevelPinned(s)) {
        System.err.println(s"[graft] $why - pair checkpoints use " +
          "DISK_ONLY for this pipeline")
        diskOnly = true
      }

    /** Escalate once the estimated pair-expansion volume reaches
      * `Conf.PairDiskOnlyMinRows`; called right after the bucket
      * checkpoint whose observe metric supplies `estPairRows`.
      */
    def escalateFor(s: SparkSession, estPairRows: Long, tag: String): Unit =
      escalateIf(s, estPairRows >= Conf.PairDiskOnlyMinRows(s),
        f"$tag: ~$estPairRows%,d estimated pair rows >= " +
          Conf.PairDiskOnlyMinRows(s))

    def checkpoint(df: DataFrame): DataFrame =
      if (!diskOnly) bigCheckpoint(df)
      else registerCheckpoint(df.localCheckpoint(true, StorageLevel.DISK_ONLY))
  }

  /** Shared with the cluster-assignment path ([[clusterLabels]] /
    * ConnectedComponents): its edge-sized checkpoints are pair-sized
    * by definition and die the same deserialized-unroll death — at
    * ×512 the symmetric neighbor list (2× pairs ≈ 1.3 B rows) OOM'd
    * on RE-READ, where a deserialized MEMORY_AND_DISK block evicted
    * to disk is re-unrolled into the memory store as whole-partition
    * object arrays (BlockManager.maybeCacheDiskValuesInMemory →
    * putIteratorAsValues). Serialized levels re-read as bounded byte
    * buffers instead.
    */
  private[graft] def bigCheckpoint(df: DataFrame): DataFrame =
    registerCheckpoint(
      df.localCheckpoint(true, Conf.pairStorageLevel(df.sparkSession)))

  /** Scoped checkpoint tracking for the sliced verify (ADVICE r14):
    * the slice loop used to free its intermediates by DIFFING the
    * SparkContext-global persistent-RDD registry around the slice —
    * which would also unpersist any checkpoint a CONCURRENT pipeline
    * on the shared context created during the window (unrecoverable:
    * localCheckpoint truncates lineage). Checkpoints now self-register
    * into a THREAD-LOCAL collector when one is active, so the slice
    * frees exactly the ids it created and nothing else. Thread-local
    * is the right scope: a pipeline constructs its plan on one driver
    * thread, and concurrent pipelines live on other threads whose
    * collector slot is independent (or unset — registration is then
    * a no-op).
    */
  private val checkpointCollector =
    new ThreadLocal[scala.collection.mutable.Set[Int]]()

  private[graft] def collectCheckpoints[T](into: scala.collection.mutable.Set[Int])(
      body: => T): T = {
    val prev = checkpointCollector.get()
    checkpointCollector.set(into)
    try body finally checkpointCollector.set(prev)
  }

  private[queries] def registerCheckpoint(df: DataFrame): DataFrame = {
    Option(checkpointCollector.get()).foreach { c =>
      df.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD => c += lr.rdd.id
        case _ => ()
      }
    }
    df
  }

  /* `Conf.VerifySlices`: verify-stage slicing (r14, the measured
    * ×4096 blocker): q37's
    * candidate verify — fetch join + attach joins + distinct — runs
    * ~108 GB of TRANSIENT shuffle scratch at ×4096 distinct against
    * ~80 GB free disk, all live at once because the verify is one
    * job. With k > 1 the candidate pair set is processed in k
    * hash-disjoint slices of `a`: each slice's verify materializes to
    * an output-sized checkpoint, then the slice's intermediate
    * checkpoints are released (blocking) and a GC pass lets the
    * ContextCleaner drop the slice's now-unreachable shuffle files —
    * peak scratch ≈ 1/k of the unsliced job. Semantics unchanged:
    * slices partition the pair set exactly (hash of the `a` id), and
    * every pair's verify is independent. Cost: the per-slice feature
    * fetch re-prunes the corpus per slice, so a doc paired across
    * slices is fetched up to k times — candidate-bounded either way.
    * Default 1 (unsliced); the scale harness sets it for the ×4096
    * probe, a deployment sizes it like shuffle partitions.
    */

  /** Test hook: (rddId, numPartitions) of every checkpoint freed by
    * [[releaseCheckpoint]]. The release pin used to be a NEGATIVE
    * registry assertion (width absent after the call) — vacuously
    * green under the ContextCleaner GC race and spuriously red on a
    * partition-count collision (ADVICE r13). Specs drain this queue
    * and assert the specific released id instead. Bounded: only specs
    * drain it, and entries are two ints per release (a handful per
    * pipeline run).
    */
  private[graft] val releasedCheckpoints =
    new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()

  /** Release a [[bigCheckpoint]]'s blocks the moment its LAST consumer
    * has materialized (r13, from the ×2048 scratch attribution): a
    * dedup pipeline's checkpoints all live until the section/bench
    * harness releases them, so the PEAK scratch is their SUM — 15.5 GB
    * for q37 alone at ×512, ~66 GB at ×2048, the box's binding
    * resource and the measured ×4096 blocker. The bucket tables are
    * roughly half of that and are dead as soon as the pair-expansion
    * checkpoint (their only consumer, itself lineage-cut) is
    * materialized — releasing them mid-pipeline halves the peak.
    * `Dataset.unpersist` cannot do this (it consults the SQL cache
    * manager, which never saw a localCheckpoint), so the release
    * unpersists the checkpoint's own RDD via its LogicalRDD leaf.
    * UNRECOVERABLE by design: the caller must guarantee no later plan
    * references the frame (a localCheckpoint has no lineage to
    * recompute from).
    *
    * Guarded (r14, ADVICE): the passed frame must BE a direct
    * checkpoint — a single [[LogicalRDD]] plan. A derived/joined
    * frame would make the old leaf-foreach free every reachable
    * checkpoint, including live ones other pipelines still need
    * (irrecoverable corruption); misuse now fails loudly instead.
    */
  private def releaseCheckpoint(df: DataFrame): Unit = {
    val rdd = checkpointRdd(df)
    releasedCheckpoints.add((rdd.id, rdd.getNumPartitions))
    rdd.unpersist(false)
  }

  /** The RDD under a direct checkpoint frame, read from its
    * `LogicalRDD` leaf: its partition count needs no physical plan
    * (`df.rdd` would plan one for the same number).
    */
  private[graft] def checkpointRdd(df: DataFrame): org.apache.spark.rdd.RDD[_] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      case other => throw new IllegalArgumentException(
        "expected a direct localCheckpoint frame " +
          s"(a single LogicalRDD plan); got ${other.nodeName} - a " +
          "derived frame could free unrelated live checkpoints")
    }

  /** Fan a small-file scan out to the session's full parallelism
    * before a compute-heavy map/partial-agg pipeline (signatures: one
    * explode + 64-128 aggregate expressions per row). A 1-row-group
    * parquet file yields a single scan split, which would serialize
    * the whole signature stage onto one core (measured: the r3 bench
    * watchdog caught 1 RUNNABLE task + 31 idle). At cluster scale a
    * real corpus scan is already thousands of splits and the
    * repartition branch never fires. Reading `df`'s split count plans
    * it (an `rdd` action); a caller that fans out several filters of
    * one scan passes the scan's count, which a filter keeps.
    */
  private[queries] def fanOut(df: DataFrame,
      scanParts: Option[Int] = None): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (scanParts.getOrElse(df.rdd.getNumPartitions) < target)
      df.repartition(target)
    else df
  }

  /** Expand capped buckets (`ids` array) into distinct candidate pairs
    * (a < b). One aggregation shuffle of (key, id) rows, then per-row
    * array expansion — no self-join, no feature arrays in flight.
    * `cap` bounds the expansion per bucket (default [[MaxBucket]]);
    * pass `Int.MaxValue` for the exact-signature key spaces whose
    * expansion is output-sized by construction.
    */
  private def bucketPairs(buckets: DataFrame,
      cap: Int = MaxBucket, width: Int): DataFrame = {
    // width is REQUIRED (r17, ADVICE r16): after the r16 floor removal
    // a defaulted -1 would silently serialize the quadratic expansion
    // onto one partition; callers must pass their measured expandWidth
    // (cf. memberPairs, which was made explicit in the same r16 diff).
    require(width > 0, s"bucketPairs width must be positive, got $width")
    buckets
      .filter(size(col("ids")).between(2, cap))
      // AQE rightly coalesces the (tiny) bucket shuffle to ~1 post-
      // shuffle partition — but the stage BELOW is the quadratic pair
      // expansion, the pipeline's heavy compute. Spread the bucket
      // rows back across the cluster first (explicit repartition is
      // exempt from AQE coalescing; the exchange is bucket-sized) at
      // the caller's measured pair-volume width (r16 — see
      // expandWidth / PairsPerTask).
      .repartition(math.max(1, width))
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") < col("b"))
      // NO per-call distinct (r16): a pair can recur only across
      // TABLES (one code per vector per table), so the dedup belongs
      // to the caller's single co-located distinct over the union —
      // the per-call distinct paid a session-width exchange per branch
      // and its partial agg caught nothing (within one bucket each
      // pair is emitted once).
  }

  /** Verify-stage feature fetch: prune the (big) feature table down to
    * the candidate-id set, then attach both sides' features to the
    * pairs. Both inputs of the final joins are candidate-sized — the
    * round-1 driver-stall hazard was broadcasting the FULL feature
    * table, which this never does. The JOIN STRATEGY is size-guarded
    * (cf. q133's broadcastMaxNodes): at or under
    * `Conf.CandBroadcastMaxRows` candidate ids the prune and attach joins
    * broadcast (zero shuffle of the pair stream); past it they pin
    * shuffle-hash — a flood-regime candidate set (every doc in a dup
    * clique) is corpus-sized, and a corpus-sized broadcast build is
    * exactly the ×128 OOM this guard closes. The guard must be
    * explicit because plan-time stats of checkpointed leaf RDDs
    * through a distinct() chain under-estimate, so the planner would
    * happily broadcast an unbounded side. Shuffle-hash (not
    * sort-merge) on the flipped path: the stream side is the pair
    * set WITH KB-wide feature arrays attached, and SMJ would sort
    * that whole stream (measured at ×128: ~80 GB of 2–4 KB rows
    * through the sorters helped OOM
    * the shared local heap), while SHJ builds only the
    * candidate-pruned feature side per partition — bounded, and
    * spillable since Spark 3.2.
    *
    * The candidate-stage intermediates (`cands`, the id set, the
    * pruned fetch) are MATERIALIZED via eager `localCheckpoint`, the
    * in-session analog of the written intermediate table a production
    * pipeline would use at this point. This is load-bearing twice
    * over: (1) `cands` feeds three consumers, and without
    * materialization each would re-run the entire blocking pipeline —
    * measured at 3× the signature cost, the round-2 bench bomb;
    * (2) checkpointing CUTS THE LINEAGE, so the downstream broadcast
    * stages are plain leaf-RDD scans — a broadcast whose child is
    * itself a multi-stage adaptive sub-plan (shuffle under exchange,
    * lazy cache) intermittently deadlocks AQE's final-plan event loop
    * until a timeout (measured 108-216 s vs ~4 s, ~50% of runs; the
    * r2/r3 bench bimodality).
    */
  private def attachFeatures(cands0: DataFrame, feats: DataFrame,
      idCol: String, featCol: String, store: PairStorage): DataFrame =
    attachFeaturesBy(cands0, ids => feats.join(ids, idCol),
      idCol, featCol, store)

  /** Generalized verify fetch: `featsOf` receives the candidate-id set
    * — ALREADY wrapped in the size-guarded strategy (broadcast or a
    * shuffle-hash hint; callers must NOT re-wrap) — and returns their
    * (id, feature) rows. For COMPUTED features (shingles/grams) the
    * caller prunes the raw scan BEFORE the feature map —
    * `raw.join(ids)` then tokenize+shingle — so the fetch costs
    * O(candidates), not a second corpus-wide feature pass (measured
    * at ×8: the corpus-recompute fetch held q37 at 16.6 s with the
    * candidate join above the gram projection, because Catalyst does
    * not push joins below projects).
    */
  private def attachFeaturesBy(cands0: DataFrame,
      featsOf: DataFrame => DataFrame,
      idCol: String, featCol: String, store: PairStorage): DataFrame = {
    // Each materialization is its own `localCheckpoint` action, so a
    // profile tells which phase (candidate set, id set, feature fetch)
    // paid.
    val cands = store.checkpoint(cands0)
    val candIds = registerCheckpoint(cands.select(col("a").as(idCol))
      .union(cands.select(col("b").as(idCol)))
      .distinct().localCheckpoint())
    // The strategy guard (see the Scaladoc above): the id set is
    // checkpointed, so the count is a cheap leaf scan, and the
    // decision is deterministic per run — no AQE, no stats guesswork.
    val s = candIds.sparkSession
    val nIds = candIds.count()
    val broadcastOk = nIds <= Conf.CandBroadcastMaxRows(s)
    // Flipped-path partition count follows the MEASURED candidate
    // count, not the session's static shuffle.partitions: an SHJ hash
    // relation build is NOT spillable, so each build partition
    // (candidate-pruned feature rows, 0.1–3 KB each) must fit in its
    // task's execution-memory share. Found by the ×512 DISTINCT probe
    // (r11): a realistic corpus's candidate set grows ~linearly with
    // corpus size (q37's min-key blocking admits background
    // collisions that only the verify prunes), and 1M+ KB-wide
    // feature rows over 32 static partitions exhausted the unified
    // pool under 32 concurrent builds ("Can't acquire … to build hash
    // relation") — the flood regime never sees this because its
    // candidates are almost all exact-signature short-circuited.
    // Ids-per-build sizing is owned by the `Conf.FetchIdsPerPartition`
    // note at the top of this object (4096 ids ≈ ≤12 MB builds under the per-task
    // execution-memory cap — r11 re-sizing); the pre-join
    // repartition satisfies the join's distribution so the planner
    // aligns the stream side to it (no extra exchange on the build
    // side, and the exchanges are candidate-sized either way). AQE
    // cannot size them: it only merges partitions, and an explicit
    // repartition is exempt from its coalescing. In the executed plan
    // the ATTACH joins' repartitions are usually ELIDED as redundant:
    // the pruned checkpoint is a LogicalRDD that PRESERVES the prune join's
    // hashpartitioning(id, fetchParts), so the width is set once at
    // the prune join and rides the checkpoint into both attach builds
    // exchange-free (DedupSpec pins the width on the SHJ nodes).
    val fetchParts = math.max(
      s.conf.get("spark.sql.shuffle.partitions").toLong,
      nIds / Conf.FetchIdsPerPartition(s) + 1L).toInt
    val prep: (DataFrame, String) => DataFrame =
      if (broadcastOk) (d, _) => broadcast(d)
      else (d, k) => d.repartition(fetchParts, col(k)).hint("shuffle_hash")
    val pruned = store.checkpoint(featsOf(prep(candIds, idCol)))
    cands
      .join(prep(pruned.select(col(idCol).as("a"), col(featCol).as("f_a")),
        "a"), "a")
      .join(prep(pruned.select(col(idCol).as("b"), col(featCol).as("f_b")),
        "b"), "b")
  }

  /** Exact Jaccard over the HASHED feature encoding: both sides are
    * sorted distinct 64-bit shingle/gram hash arrays (the same `hs`
    * encoding the (n, h1, h2) exact-signature shortcut hashes), so
    * |a ∩ b| is one codegen'd merge pass ([[SortedIntersectCount]] —
    * no hash-set build, no boxing, no intersection array materialized
    * per pair) and |a ∪ b| = |a| + |b| − |a ∩ b| holds exactly. The
    * verify join is the per-pair hot path at scale — billions of
    * candidates at 100 TB each save an `array_intersect` hash build
    * (r12: q37's final verify checkpoint was 3426 corpus-linear CPU-s
    * at distinct ×512 on the string-array form).
    *
    * Hash-space exactness: within a doc `array_distinct` over hashes
    * equals distinct-over-strings unless two of its shingles collide
    * in 64 bits (~n²/2⁶⁵ per doc); across a pair the intersection
    * count differs only if a shingle unique to one side collides with
    * a different shingle unique to the other (~n_a·n_b/2⁶⁴ per pair,
    * ~5e-12 at 10k-gram docs). Both are orders below the accepted
    * 2⁻¹²⁸ exact-signature shortcut odds this family already rests
    * on; integer counts and the final division are otherwise
    * BIT-IDENTICAL to the string form, so the DuckDB oracle and the
    * J==1.0/0.5 spec equalities are unaffected. The repeated `inter`
    * is evaluated once per row (deterministic subexpression
    * elimination in the codegen'd project).
    */
  private def jaccard(a: Column, b: Column): Column = {
    val inter = graft.functions.SortedIntersectCount(a, b).cast("double")
    inter / (size(a).cast("double") + size(b).cast("double") - inter)
  }

  /** (doc_id, feature array<string>) → (doc_id, hsh): the sorted
    * distinct 64-bit hash encoding of the feature set — the verify
    * fetch's payload (8 B/feature vs ~20 B strings, and [[jaccard]]'s
    * merge-pass input). Identical construction to the `hs` arrays the
    * exact-signature (n, h1, h2) fields hash, so shortcut and verify
    * agree on the encoding.
    */
  private def hashedFeatures(df: DataFrame, featCol: String): DataFrame =
    df.select(col("doc_id"),
      array_sort(array_distinct(Hashing.shingleHashes(col(featCol))))
        .as("hsh"))

  // ---------------------------------------------------------------- q34
  /** Exact content dedup: canonical text → keeper (min doc_id) + copy
    * count. At 100 TB you group on xxhash64(content) instead of the
    * content itself (collision-checked); grouped-by-text here so the
    * DuckDB oracle can replicate byte-for-byte.
    */
  private def q34(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), length(col("text")).as("text_len"))
      .orderBy("keep_id")

  private val q34Sql =
    """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies,
      |       CAST(LENGTH(text) AS INT) AS text_len
      |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin

  /** (doc_id, text) → word-2-shingle sets (distinct), the feature for
    * q35's blocking and verify. Split from the scan so the verify
    * fetch can prune rows BEFORE the tokenize+shingle map.
    */
  private[queries] def shingle2Of(raw: DataFrame): DataFrame = raw
    .select(col("doc_id"), T.tokens(col("text")).as("toks"))
    .filter(size(col("toks")) >= 2)
    .select(col("doc_id"),
      array_distinct(T.wordNGrams(col("toks"), 2)).as("shingles"))


  // ---------------------------------------------------------------- q35
  /** MinHash(128) + LSH(16 bands × 8 rows) near-dup pairs, verified
    * with exact Jaccard ≥ 0.5 on word-2-shingle sets.
    *
    * Pipeline: per-doc signature (codegen, no shuffle) → explode the
    * 16 band keys only → bucket by (band, key), cap, expand to pairs →
    * verify with exact Jaccard over candidate-pruned shingle fetch.
    * At 100 TB the text/shingles never shuffle: the blocking exchange
    * carries (doc_id, band, key) and the verify exchange is sized by
    * the candidate set. The shingle pipeline is recomputed for the
    * pruned fetch instead of cached — a second scan-bound map pass
    * beats materializing a corpus-sized array column.
    */
  /** q35's verified pair set without the presentation sort — also the
    * edge list consumed by q102's cluster assignment ([[clusterLabels]]).
    *
    * A [[graft.Memo]] stage: the pair set is the materialized
    * intermediate TABLE a production dedup pipeline writes once and
    * reads from both the pair report and the cluster-assignment job.
    * The checkpointed result is a leaf RDD on the shared SparkContext,
    * so later consumers in the same JVM (q35 after q102, or vice versa)
    * reuse it.
    */
  private[graft] def nearDupPairs(s0: SparkSession, dir: String): DataFrame =
    pairTable(s0, dir).pairs

  /** The `near_dup_pairs` stage: the pairs, their row count observed ON
    * the final pair checkpoint's own materialization job, and the
    * pipeline's storage level, which q102's label loop reuses for its
    * edge-sized checkpoints.
    */
  private final case class PairTable(pairs: DataFrame, count: Long,
      store: PairStorage)

  private def pairTable(s0: SparkSession, dir: String): PairTable =
    graft.Memo(s0, "near_dup_pairs", dir, "documents") {
      val store = new PairStorage
      val pairs = minHashPairs(fanOut(
        Tables.documents(s0, dir).select(col("doc_id"), col("text"))), store)
      val obs = Observation()
      val out = store.checkpoint(
        pairs.observe(obs, count(lit(1)).as("n_pairs")))
      PairTable(out, obs.get("n_pairs").asInstanceOf[Long], store)
    }(t => Seq(t.pairs))

  /** MinHash-LSH pair pipeline over an explicit (doc_id, text) corpus
    * (factored so a replicated stress corpus can be fed directly).
    * The verify fetch prunes the RAW rows to the candidate-id set
    * before re-running the shingle map, so its cost follows the
    * candidate count, not the corpus (see [[attachFeaturesBy]]).
    */
  /** (doc_id, shingles) → (m, band, key): the member struct (id, the
    * (n, h1, h2) exact-content signature, the bottom-16 k-min sketch)
    * exploded over its 17 blocking keys — 16 LSH band keys plus the
    * uncapped exact-signature key space at band index 16. Factored
    * (r12) so the symmetric pipeline and q136's asymmetric index/probe
    * sides key IDENTICALLY — a drifted key construction on one side
    * would silently miss candidates.
    */
  private def minHashKeyed(sh: DataFrame): DataFrame =
    Hashing.minHashSignaturesWithContent(sh, "doc_id", "shingles", 128)
      .select(struct(col("doc_id"),
          size(col("hs")).as("n"),
          xxhash64(col("hs")).as("h1"),
          xxhash64(lit("s2"), col("hs")).as("h2"),
          slice(col("hs"), 1, 16).as("sk")).as("m"),
        posexplode(concat(
          Hashing.bandKeys(col("sig"), bands = 16, rows = 8),
          array(xxhash64(lit("exact-sig"), col("sig")))))
          .as(Seq("band", "key")))

  /** The q35 blocking-key rows FLATTENED for the streaming near-dup
    * operator (q138): (doc_id, n, h1, h2, ks, band, key) — the same
    * signature/band-key construction as [[minHashKeyed]] (identical
    * primitives and parameters, so stream and batch surface the SAME
    * candidates), minus the `sk` level-2 sketch (the stream holds a
    * capped per-bucket member list instead of re-blocking). `ks`
    * carries ALL 16 band keys so the stateful operator can assign
    * each pair ONE owning bucket (min matching band) and emit with no
    * downstream dedup — see StreamingQueries.q138. Works on a
    * streaming DataFrame: every expression here is a stateless
    * per-row map.
    */
  private[graft] def streamKeyedMembers(docs: DataFrame): DataFrame =
    Hashing.minHashSignaturesWithContent(
        shingle2Of(docs), "doc_id", "shingles", 128)
      .select(col("doc_id"), size(col("hs")).as("n"),
        xxhash64(col("hs")).as("h1"),
        xxhash64(lit("s2"), col("hs")).as("h2"),
        Hashing.bandKeys(col("sig"), bands = 16, rows = 8).as("ks"),
        posexplode(concat(
          Hashing.bandKeys(col("sig"), bands = 16, rows = 8),
          array(xxhash64(lit("exact-sig"), col("sig")))))
          .as(Seq("band", "key")))

  /** (doc_id, hsh) hashed-feature table of a (doc_id, text) corpus —
    * the verify payload q138's stream-static join fetches (identical
    * encoding to the batch verify fetch, so jaccard values match
    * bit-for-bit).
    */
  private[graft] def hashedFeaturesOf(docs: DataFrame): DataFrame =
    hashedFeatures(shingle2Of(docs), "shingles")

  /** [[jaccard]] for callers outside this object (q138's verify). */
  private[graft] def jaccardCol(a: Column, b: Column): Column = jaccard(a, b)

  private[graft] def minHashPairs(raw: DataFrame,
      store: PairStorage = new PairStorage): DataFrame = {
    val bucketParts = bucketAggParts(raw)
    // Band keys PLUS an exact-signature key (band index 16, the q37
    // salted-h1 move, r7): an exact-dup clique larger than MaxBucket
    // floods ALL its band buckets past the cap — without this key its
    // pairs (which the brute-force oracle requires at J = 1) would
    // silently drop. The exact key space is UNCAPPED: identical full
    // signatures ⇒ the expansion is output-sized, not a blowup; the
    // capped band buckets keep bounding the probabilistic candidates.
    // Each member also ships q37's compact content signature
    // (n, h1, h2 of the sorted shingle-hash array): pairs with equal
    // content hashes have equal shingle SETS (2^-128 collision odds)
    // ⇒ Jaccard exactly 1.0 with NO fetch — on a duplicate-flooded
    // corpus this short-circuits nearly every candidate (×150
    // measured: q35 verify was fetching 5.6M identical pairs, 37.8 s
    // vs q37's 8.2 s on the same corpus).
    // `sk` (bottom-16 shingle hashes) rides in the member struct as
    // the LEVEL-2 re-block key space — same shape as q37's sketch.
    // The scan-stat-sized repartition (see bucketAggParts) carries the
    // bucket groupBy's own hash distribution, so the aggregate adds no
    // second exchange — the one shuffle of member structs just runs at
    // corpus-proportional width instead of the session's static
    // partitions.
    minHashPairsFromKeyed(raw,
      minHashKeyed(shingle2Of(raw))
        .repartition(bucketParts, col("band"), col("key")),
      bucketParts, store)
  }

  /** The symmetric pair pipeline over PRE-KEYED member rows that are
    * already hash-partitioned by (band, key) — `keyed` must be
    * [[minHashKeyed]] output (or a checkpoint of it) distributed on
    * those two columns, so the bucket aggregation below adds no
    * exchange. Split out (r16, optimization round) so q136's
    * new-vs-new leg can reuse the probe-keys checkpoint it already
    * materialized: the shard's tokenize + shingle + 128-perm MinHash
    * pass used to run twice per increment (once for the index probe,
    * once inside this pipeline) — at deployment scale that is a full
    * redundant pass over the daily shard (guide §1.2: don't compute
    * things twice).
    */
  private def minHashPairsFromKeyed(raw: DataFrame, keyed: DataFrame,
      bucketParts: Int, store: PairStorage): DataFrame = {
    // Pair-volume upper bound per bucket, riding the bucket
    // checkpoint's own job (no extra action): exact/small buckets
    // expand to exactly C(sz,2); an oversized band bucket re-blocks
    // each member into ≤4 sub-buckets capped at MaxBucket, so its
    // expansion is ≤ 4·MaxBucket·sz. Drives the DISK_ONLY escalation
    // for the expand/fetch/final checkpoints below.
    val szEst = size(col("members")).cast("long")
    val obsEst = Observation()
    val buckets = store.checkpoint(keyed
      .groupBy("band", "key").agg(collect_list("m").as("members"))
      .filter(size(col("members")) >= 2)
      .observe(obsEst, coalesce(sum(
          when(col("band") === 16 || szEst <= MaxBucket,
            szEst * (szEst - 1L) / 2L)
            .otherwise(lit(4L * MaxBucket) * szEst)), lit(0L))
        .cast("long") // Column `/` is double division — cast back
        .as("est_pairs")))
    val estPairs = obsEst.get("est_pairs").asInstanceOf[Long]
    store.escalateFor(keyed.sparkSession, estPairs, "minhash")
    // pair-volume-derived width for the quadratic expansion stages AND
    // the co-located pair dedup below (see PairsPerTask)
    val exWidth = expandWidth(estPairs, bucketParts)
    // Level 2 (q36/q37 parity, closing q35's last silent cap): a
    // NEAR-dup clique larger than MaxBucket floods all 16 band
    // buckets past the cap, and — unlike an exact clique — gets no
    // help from the exact-signature key (its signatures differ per
    // member). The DISTINCT overflow population (members of ANY
    // oversized band bucket, deduped — one re-block, not 16 copies)
    // is re-keyed on each member's bottom-4 shingle hashes: a J ≥ 0.5
    // pair shares a bottom-slot key with P ≈ 1-(1-J)^4 ≥ 0.94, and
    // band keys are independent of `sk`, so the sub-key space is
    // fresh. Members whose sketch is shorter than 4 use the whole
    // sketch (an empty-slice explode would silently eject them — the
    // q37 short-doc hole, fixed there too). Sub-buckets are capped
    // again and drops are published via observe, never silent.
    val overflow = buckets
      .filter(col("band") < 16 && size(col("members")) > MaxBucket)
      .select(explode(col("members")).as("m"))
      .distinct()
    val reblocked = overflow
      .select(col("m"), explode(slice(col("m.sk"), 1, 4)).as("subkey"))
      // overflow-population-sized, but under a flood EVERY band bucket
      // overflows and the population is corpus-sized — same width
      .repartition(bucketParts, col("subkey"))
      .groupBy("subkey").agg(collect_list("m").as("members"))
      .observe("minhash_reblock",
        count(when(size(col("members")) > MaxBucket, 1))
          .as("dropped_subbuckets"),
        coalesce(sum(when(size(col("members")) > MaxBucket,
          size(col("members")))), lit(0L)).as("dropped_members"))
      .filter(size(col("members")).between(2, MaxBucket))
    def expand(b: DataFrame, cap: Int): DataFrame = b
      .filter(size(col("members")) <= cap)
      // spread the quadratic pair expansion at the MEASURED pair
      // volume (r16 — see PairsPerTask), never narrower than the
      // corpus-proportional bucket table itself (don't funnel a
      // corpus-wide bucket set down to a constant)
      .repartition(exWidth)
      .select(explode(col("members")).as("x"), col("members"))
      .select(col("x"), explode(col("members")).as("y"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        (col("x.n") === col("y.n") && col("x.h1") === col("y.h1") &&
          col("x.h2") === col("y.h2")).as("exact"),
        // EXACT necessary condition (q37's documented size-ratio move,
        // applied here r12): J = |∩|/|∪| ≤ n_min/n_max, so ratio < 0.5
        // provably fails the threshold — zero false negatives, and the
        // verify fetch/join shrink by every banding collision between
        // very differently-sized docs.
        (least(col("x.n"), col("y.n")).cast("double") /
            greatest(col("x.n"), col("y.n")).cast("double") >= 0.5)
          .as("plausible"))
    // feeds two consumers (shortcut + verify): materialize once.
    // The (a, b) hash repartition CO-LOCATES the cross-band dedup at
    // the pair-volume width (r16): distinct's own exchange would run
    // at the session's static width, and its map-side partial agg
    // bought nothing here — duplicate pairs come from DIFFERENT band
    // buckets, which the round-robin expansion spread lands in
    // different partitions anyway.
    val pairs = store.checkpoint(expand(buckets.filter(col("band") < 16), MaxBucket)
      .union(expand(reblocked, MaxBucket))
      .union(expand(buckets.filter(col("band") === 16), Int.MaxValue))
      .repartition(exWidth, col("a"), col("b"))
      .distinct())
    // `pairs` (its own lineage-cut checkpoint) was the bucket table's
    // only consumer — free the pipeline's largest block set now
    // instead of at section end (see releaseCheckpoint)
    releaseCheckpoint(buckets)
    val exactPairs = pairs.filter(col("exact"))
      .select(col("a"), col("b"), lit(1.0).as("jaccard"))
    val verified = attachFeaturesBy(
      pairs.filter(!col("exact") && col("plausible"))
        .select(col("a"), col("b")),
      ids => hashedFeatures(shingle2Of(raw.join(ids, "doc_id")), "shingles"),
      "doc_id", "hsh", store)
      .select(col("a"), col("b"), jaccard(col("f_a"), col("f_b")).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
    exactPairs.union(verified)
  }

  private def q35(s0: SparkSession, dir: String): DataFrame =
    nearDupPairs(s0, dir).orderBy("a", "b")

  // --------------------------------------------------------------- q136
  /** Incremental (asymmetric) near-dup dedup — the production shape the
    * symmetric family doesn't cover (VERDICT r11 #3): dedup a NEW
    * shard against an EXISTING corpus without recomputing any
    * corpus-vs-corpus pair. This is the daily-increment job a 100 TB
    * training-data pipeline runs: the corpus side's blocking index is
    * a STANDING table (built once, memoized per dir here — the same
    * cold/warm pattern as IvfAnn's persisted index; a deployment
    * writes it to storage and the daily job only ever scans it), and
    * each increment pays index-PROBE cost proportional to the shard,
    * not the corpus.
    *
    * Shard convention (data-derived so one static oracle covers every
    * dir): new = doc_id ≥ max(doc_id)·4/5 (integer division) — the
    * most recent ~20% of ids. Output: every near-dup pair involving a
    * new doc — new-vs-base (`vs_base`, the "drop b, it already exists"
    * rows) and new-vs-new (the shard's own dups) — with exact Jaccard
    * ≥ 0.5 on word-2-shingles, the same contract as q35 restricted to
    * pairs touching the increment.
    *
    * Mechanics: the index is the base corpus's (band, key) bucket
    * table — singletons INCLUDED (a new doc must be able to pair with
    * a lone base doc; the symmetric pipeline's ≥2 filter is an
    * optimization this probe can't share) — capped at [[MaxBucket]]
    * for the 16 LSH bands with the exact-signature band uncapped, plus
    * the level-2 re-block of oversized-bucket members on their
    * bottom-4 sketch keys (singletons again kept). New-shard keyed
    * rows equi-join the index on (band, key) — shuffle-hash with the
    * index as build side, each partition's build bounded by the same
    * scan-stat width as the bucket aggs — and members expand to
    * (base, new) candidates; new docs that hit an oversized key probe
    * the re-block index through their own bottom-4 keys (the same
    * P ≈ 1-(1-J)^4 recovery as the symmetric level 2). The exact
    * (n, h1, h2) shortcut and the candidate-pruned hashed-feature
    * verify then run unchanged; new-vs-new pairs come from the
    * symmetric pipeline on the shard alone. Recall guarantees are
    * exactly q35's, restricted to pairs touching the increment —
    * IncrementalDedupSpec asserts increment ∪ base-only ≡ a full
    * symmetric rerun at gate scale.
    */
  /** The standing corpus-side index for incremental dedup, covering
    * docs with doc_id < `split`. `buckets`: the (band, key) member
    * bucket table (16 LSH bands + the uncapped exact-signature band
    * 16); `reblock`: the level-2 re-block of oversized-bucket members
    * on their bottom-4 sketch keys; `exactKeys`: the distinct
    * (eh1, eh2) text-hash pairs of the covered docs — the APPLY
    * step's exact-duplicate membership probe (q137; double-xxhash64
    * membership is the q37 signature pattern, 2^-128 collision
    * class). `parts`: the base corpus's scan-stat width
    * ([[bucketAggParts]]), which the q136/q137 stages over this index
    * take for their corpus- and pair-sized exchanges (AQE only merges,
    * so the session width would cap them). `store`: the storage level
    * of every pair-sized checkpoint built on this index.
    */
  private[graft] final case class IncrIndex(split: Long, parts: Int,
      buckets: DataFrame, reblock: DataFrame, exactKeys: DataFrame,
      store: PairStorage)

  /** The memoized standing index for `dir` at the data-derived split
    * (max doc_id · 4/5 — the q136 shard convention): cold build, warm
    * probes, a [[graft.Memo]] stage over `documents`.
    */
  private[graft] def incrementalIndex(s0: SparkSession, dir: String): IncrIndex =
    graft.Memo(s0, "incr_index", dir, "documents") {
      val maxId = Tables.documents(s0, dir)
        .agg(max(col("doc_id"))).head.getLong(0)
      indexFor(s0, dir, maxId * 4L / 5L)
    }(idx => Seq(idx.buckets, idx.reblock, idx.exactKeys))

  /** Build the standing index over docs with doc_id < `split`
    * (uncached — [[incrementalIndex]] memoizes the per-dir instance;
    * IncrementalDedupSpec drives explicit splits for the day-by-day
    * equivalence proof).
    */
  private[graft] def indexFor(s: SparkSession, dir: String,
      split: Long): IncrIndex = {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val rawBase = fanOut(docs.filter(col("doc_id") < split))
      // Index PROBE-JOIN width — 4× finer than the flow-through bucket
      // shuffles: the l1/l2 probe joins BUILD their hash relations
      // from these checkpoints (the preserved partitioning IS the join
      // width), an SHJ build's in-memory relation runs ~2× its
      // serialized bytes with ZERO spill, and the per-task execution
      // share (~pool/threads) is also feeding the probe explode and
      // the candidate distinct in the same stage. Measured at distinct
      // ×128 (r12): the 2 MB/partition width put single builds at
      // ~35 MB serialized / ~70 MB resident and 32 concurrent tasks
      // exhausted the pool ("Unable to acquire … got 0"); 4× finer ≈
      // ≤12 MB builds — the same budget as FetchIdsPerPartition.
      val statParts = bucketAggParts(rawBase)
      val bucketParts = math.min(BucketMaxParts, statParts * 4)
      // Index-scale storage policy (r12, the ×512 q136 OOM): the index
      // and probe checkpoints are CORPUS-sized, and serialized-memory
      // blocks evicted to disk get RE-CACHED on re-read as one
      // whole-partition heap buffer each (BlockManager.
      // maybeCacheDiskBytesInMemory) — 32 concurrent probe tasks
      // pulling evicted index partitions blew the heap. DISK_ONLY
      // streams from disk with no re-cache (the r10 ×256 finding,
      // same physics). Trigger: the scan stats pushed the width past
      // the session's static partitions ⇔ the corpus outgrew the
      // memory-friendly regime. An explicit pin always wins.
      val store = new PairStorage
      store.escalateIf(s,
        statParts > s.conf.get("spark.sql.shuffle.partitions").toInt,
        s"incr: corpus-scale index ($statParts stat partitions)")
      val buckets = store.checkpoint(minHashKeyed(shingle2Of(rawBase))
        .repartition(bucketParts, col("band"), col("key"))
        .groupBy("band", "key").agg(collect_list("m").as("members")))
      // exact-text membership keys for the APPLY step (q137): one
      // exchange at the index width; the repartition keys equal the
      // distinct's grouping keys, so the dedup agg rides it with no
      // second exchange and the checkpoint PRESERVES (eh1, eh2)
      // hash-partitioning for the probe-side-only anti-join.
      val exactKeys = store.checkpoint(docs.filter(col("doc_id") < split)
        .select(xxhash64(col("text")).as("eh1"),
          xxhash64(lit("ex2"), col("text")).as("eh2"))
        .repartition(bucketParts, col("eh1"), col("eh2"))
        .distinct())
      IncrIndex(split, statParts, buckets,
        reblockOf(buckets, bucketParts, statParts, store), exactKeys, store)
    }

  /** Level-2 re-block of `buckets`' oversized-bucket members on their
    * bottom-4 sketch keys — factored (r13) so [[indexUpdatedWith]]
    * rebuilds it from the MERGED bucket table exactly as the cold
    * build does (overflow-population-sized either way; the member
    * dedup runs at the index's `parts`, the sub-key groups at `width`).
    */
  private def reblockOf(buckets: DataFrame, width: Int, parts: Int,
      store: PairStorage): DataFrame =
    store.checkpoint(buckets
      .filter(col("band") < 16 && size(col("members")) > MaxBucket)
      .select(explode(col("members")).as("m"))
      .repartition(parts, col("m"))
      .distinct()
      .select(col("m"), explode(slice(col("m.sk"), 1, 4)).as("subkey"))
      .repartition(width, col("subkey"))
      .groupBy("subkey").agg(collect_list("m").as("members"))
      // a sub-bucket that ALSO overflows is dropped, never
      // silently (cf. minHashPairs's level 2)
      .observe("incr_reblock_drops",
        count(when(size(col("members")) > MaxBucket, 1))
          .as("dropped_subbuckets"))
      .filter(size(col("members")) <= MaxBucket))

  /** The standing index ADVANCED to cover [0, newSplit): the daily
    * index-UPDATE step, so day-N+1 probes see day-N docs without a
    * rebuild. The shard [idx.split, newSplit)'s keyed rows aggregate
    * at the index's own (band, key) width and merge into the bucket
    * table via a partition-ALIGNED full-outer join — both sides
    * hash-partitioned identically, so the corpus side exchanges
    * NOTHING and the merge is one per-partition sort-merge pass (the
    * same linear disk-streaming shape as an LSM compaction; the
    * bucket table cannot be kept as probe-side segments because the
    * MaxBucket cap and the oversized-key routing read TOTAL per-key
    * member counts). The exact-key set merges the same aligned way;
    * the level-2 re-block rebuilds from the merged oversized buckets
    * (overflow-population-sized). The result is VALUE-identical to
    * [[indexFor]](newSplit) up to member order — every consumer (cap
    * filters, probes, explodes) is order-insensitive — which
    * IncrementalDedupSpec asserts end-to-end by comparing probe
    * outputs. NOTE: does not touch the [[incrementalIndex]] stage
    * (it stays at the dir convention's split); day-by-day harnesses
    * own their index instances.
    */
  private[graft] def indexUpdatedWith(idx: IncrIndex, dir: String,
      newSplit: Long): IncrIndex = {
    val s = idx.buckets.sparkSession
    val store = idx.store
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val shard = fanOut(docs.filter(col("doc_id") >= idx.split &&
      col("doc_id") < newSplit))
    val indexParts = checkpointRdd(idx.buckets).getNumPartitions
    val shardBuckets = minHashKeyed(shingle2Of(shard))
      .repartition(indexParts, col("band"), col("key"))
      .groupBy("band", "key").agg(collect_list("m").as("new_members"))
    val merged = store.checkpoint(idx.buckets
      .join(shardBuckets, Seq("band", "key"), "full_outer")
      .select(col("band"), col("key"),
        when(col("members").isNull, col("new_members"))
          .when(col("new_members").isNull, col("members"))
          .otherwise(concat(col("members"), col("new_members")))
          .as("members")))
    val shardKeys = docs.filter(col("doc_id") >= idx.split &&
        col("doc_id") < newSplit)
      .select(xxhash64(col("text")).as("eh1"),
        xxhash64(lit("ex2"), col("text")).as("eh2"))
      .repartition(indexParts, col("eh1"), col("eh2"))
      .distinct()
    val mergedExact = store.checkpoint(idx.exactKeys
      .join(shardKeys, Seq("eh1", "eh2"), "full_outer"))
    IncrIndex(newSplit, idx.parts, merged,
      reblockOf(merged, indexParts, idx.parts, store), mergedExact, store)
  }

  /** q136's pair pipeline: every near-dup pair (J ≥ 0.5, 2-shingles)
    * touching the increment (doc_id ≥ split), without recomputing any
    * base-vs-base pair. See the q136 scaladoc above for the design.
    * A [[graft.Memo]] stage: the r13 bench showed q137 cold-recomputing
    * the ENTIRE pair pipeline q136 just materialized — the pair table
    * is the natural shared artifact of the daily job (a deployment
    * writes it out once per increment and both the report and the
    * apply read it).
    */
  private[graft] def incrementalPairs(s0: SparkSession, dir: String): DataFrame =
    graft.Memo(s0, "incr_pairs", dir, "documents")(
      incrementalPairsWith(incrementalIndex(s0, dir), dir))(Seq(_))

  /** [[incrementalPairs]] against an EXPLICIT index instance and an
    * optional shard upper bound — the day-by-day surface: the shard
    * is [idx.split, until), so a harness can replay history one
    * increment at a time ([[indexUpdatedWith]] advances the index
    * between shards). The default bound keeps q136's "everything
    * after the split" semantics.
    */
  private[graft] def incrementalPairsWith(idx: IncrIndex, dir: String,
      until: Long = Long.MaxValue): DataFrame = {
    val (split, buckets, reblock) = (idx.split, idx.buckets, idx.reblock)
    val store = idx.store
    val s = buckets.sparkSession
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val scanParts = Some(docs.rdd.getNumPartitions)
    val rawNew = fanOut(docs.filter(col("doc_id") >= split &&
      col("doc_id") < until), scanParts)
    val raw = fanOut(docs, scanParts)
    // bigCheckpoint, NOT a plain localCheckpoint: the keyed probe table
    // is shard-corpus-sized (17 keys × ~200 B member structs per doc)
    // and a deserialized memory-store unroll of it is the r10
    // value-unroll OOM class — measured at distinct ×1024 (1 M-doc
    // shard ⇒ 17 M member rows as whole-partition object arrays took
    // the heap down inside the scan). Serialized blocks pack and evict.
    // Pre-aligned to the INDEX's (band, key) partitioning: the l1
    // probe join then exchanges neither side, and the checkpoint's
    // partitions stay at the index's fine width instead of the scan's
    // (a 32-partition shard table meant ~70 MB serialized partitions —
    // exactly the whole-partition re-cache allocations the DISK_ONLY
    // escalation in indexFor is defending against).
    val indexParts = checkpointRdd(buckets).getNumPartitions
    val newKeyed = store.checkpoint(minHashKeyed(shingle2Of(rawNew))
      .repartition(indexParts, col("band"), col("key")))
    // Level-1 probe: capped LSH buckets + the uncapped exact band.
    // The index side builds the hash relation (shuffle-hash, never a
    // corpus-sized broadcast); its checkpoint PRESERVES the bucket
    // agg's (band, key) hashpartitioning, so only the probe side
    // exchanges.
    val l1 = newKeyed
      .join(buckets.filter(col("band") === 16 ||
        size(col("members")) <= MaxBucket).hint("shuffle_hash"),
        Seq("band", "key"))
      .select(col("m").as("y"), explode(col("members")).as("x"))
    // Level-2 probe: new docs stranded on an oversized key re-key on
    // their OWN bottom-4 sketch entries against the re-block index.
    val hitOversized = newKeyed
      .join(buckets.filter(col("band") < 16 &&
          size(col("members")) > MaxBucket).select("band", "key"),
        Seq("band", "key"), "left_semi")
      // the index-width dedups below co-locate on their keys: a
      // duplicate comes from another band, i.e. another partition, so
      // a map-side partial aggregate would catch nothing
      .select(col("m")).repartition(idx.parts, col("m")).distinct()
    val l2 = hitOversized
      .select(col("m").as("y"), explode(slice(col("m.sk"), 1, 4)).as("subkey"))
      .join(reblock.hint("shuffle_hash"), Seq("subkey"))
      .select(col("y"), explode(col("members")).as("x"))
    val nbCands = store.checkpoint(l1.union(l2)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        (col("x.n") === col("y.n") && col("x.h1") === col("y.h1") &&
          col("x.h2") === col("y.h2")).as("exact"),
        // exact size-ratio bound, cf. minHashPairs's expand
        (least(col("x.n"), col("y.n")).cast("double") /
            greatest(col("x.n"), col("y.n")).cast("double") >= 0.5)
          .as("plausible"))
      .repartition(idx.parts, col("a"), col("b"))
      .distinct())
    val exactNB = nbCands.filter(col("exact"))
      .select(col("a"), col("b"), lit(1.0).as("jaccard"))
    val verifiedNB = attachFeaturesBy(
      nbCands.filter(!col("exact") && col("plausible"))
        .select(col("a"), col("b")),
      ids => hashedFeatures(shingle2Of(raw.join(ids, "doc_id")), "shingles"),
      "doc_id", "hsh", store)
      .select(col("a"), col("b"), jaccard(col("f_a"), col("f_b")).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
    // New-vs-new: the symmetric pipeline on the shard alone — shard-
    // sized work, the corpus side never re-pairs. Feeds off the
    // ALREADY-materialized probe-keys checkpoint (r16): `newKeyed` IS
    // minHashKeyed over the shard, hash-partitioned on (band, key), so
    // the symmetric bucket agg rides its preserved partitioning with
    // no exchange — the shard's tokenize + shingle + 128-perm MinHash
    // pass runs ONCE per increment instead of twice (at deployment
    // scale, one full redundant pass over the daily shard removed).
    // The bucket agg rides newKeyed's own (index-width) partitioning;
    // the expand/re-block widths keep following the SHARD's scan stats
    // exactly as the standalone pipeline would size them.
    val nn = minHashPairsFromKeyed(rawNew, newKeyed, bucketAggParts(rawNew),
      store)
    // the final stage: an output-sized checkpoint, so consumers get a
    // leaf scan and the verify join is this action's executed plan
    store.checkpoint(exactNB.union(verifiedNB).union(nn)
      .select(col("a"), col("b"), col("jaccard"),
        (col("a") < split).as("vs_base")))
  }

  /** Base-only symmetric run (docs with doc_id < split) — the
    * "yesterday's corpus" q35; IncrementalDedupSpec and the
    * ScaleStress distinct hook assert base ∪ increment ≡ full rerun.
    */
  private[graft] def nearDupPairsBelow(s: SparkSession, dir: String,
      split: Long): DataFrame =
    minHashPairs(fanOut(Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") < split)))

  /** The split the incremental convention derives for `dir` (exposed
    * for specs/harnesses; builds or reuses the memoized index).
    */
  private[graft] def incrementalSplit(s0: SparkSession, dir: String): Long =
    incrementalIndex(s0, dir).split

  /** q137: the incremental APPLY step — the deduplicated rows a daily
    * job APPENDS for the shard [idx.split, until): exactly q111's
    * kept set restricted to the shard, computed without touching any
    * base-vs-base pair. q111's two keep rules, made incremental:
    *  - EXACT: the doc is the min-id copy of its text within the
    *    shard AND its text is absent from the standing exact-key set
    *    (base ids all precede shard ids, so shard-internal min + base
    *    membership ≡ full-corpus min);
    *  - NEAR: the doc has no near-dup link to the base — a `vs_base`
    *    pair puts a smaller base id in its full-graph cluster — and
    *    it is the min-id of its shard-internal near-dup component,
    *    none of whose members links to base. Components are CC over
    *    the shard's new-vs-new pairs only: two shard components that
    *    could merge only THROUGH a base doc each contain a base-
    *    linked member, so every member is dropped either way — the
    *    full-graph keep/drop decision for SHARD docs never needs base
    *    CC (IncrementalDedupSpec's day-by-day ≡ full-rerun assert).
    * Base docs are never re-dropped — the published corpus is
    * MONOTONE, the production contract for a daily append. (A full
    * RERUN may additionally drop a base doc that a new doc bridges
    * into an older cluster; that retro-drop is q111's job, not the
    * daily append's, and doesn't change which SHARD docs are kept.)
    * Cost shape: one shard-sized window shuffle (exact rule), the
    * q136 probe, CC over shard-internal pairs (near-dup-rate-sized),
    * and a broadcast anti-join of the candidate-sized drop set — the
    * corpus is only ever probed, never re-paired.
    */
  private[graft] def incrementalApplyWith(idx: IncrIndex, dir: String,
      until: Long = Long.MaxValue,
      pairsOverride: Option[DataFrame] = None): DataFrame = {
    val s = idx.buckets.sparkSession
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    val shard = docs.filter(col("doc_id") >= idx.split &&
      col("doc_id") < until)
    // exact rule: the standing-key anti-join is shuffle-hash with the
    // index side building from its checkpoint's PRESERVED (eh1, eh2)
    // partitioning — only the (already shard-sized) probe exchanges
    val exactKept = shard
      .repartition(idx.parts, col("text"))
      .withColumn("min_id",
        min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("text"))))
      .filter(col("doc_id") === col("min_id"))
      .withColumn("eh1", xxhash64(col("text")))
      .withColumn("eh2", xxhash64(lit("ex2"), col("text")))
      .join(idx.exactKeys.hint("shuffle_hash"), Seq("eh1", "eh2"), "left_anti")
      .select(col("doc_id"), col("source"), col("n_chars"))
    // near rule: pair-sized leaf table feeds three consumers.
    // `pairsOverride` is the memoized q136 table (q137's entry path —
    // the r13 bench showed the full pipeline re-running here); the
    // default keeps the explicit-index day-by-day surface. Either way
    // the pipeline's final checkpoint already lineage-cut it to a leaf.
    val pairs = pairsOverride.getOrElse(incrementalPairsWith(idx, dir, until))
    val vsBase = pairs.filter(col("vs_base"))
      .select(col("b").as("id")).distinct()
    val nn = pairs.filter(!col("vs_base")).select(col("a"), col("b"))
    val labels = ConnectedComponents.labelsFor(nn,
      loopParts = Some(idx.parts), checkpoint = idx.store.checkpoint)
    val touched = labels.join(vsBase, Seq("id"), "left_semi")
      .select(col("lbl")).distinct()
    val dropNear = vsBase
      .union(labels.filter(col("id") =!= col("lbl")).select(col("id")))
      .union(labels.join(touched, Seq("lbl"), "left_semi").select(col("id")))
      .distinct()
      .withColumnRenamed("id", "doc_id")
    // the drop set is candidate-sized (cf. q111) — broadcast so the
    // shard side never shuffles for it
    idx.store.checkpoint(
      exactKept.join(broadcast(dropNear), Seq("doc_id"), "left_anti"))
  }

  private def q136(s0: SparkSession, dir: String): DataFrame =
    incrementalPairs(s0, dir).orderBy("a", "b")

  // ---------------------------------------------------------------- q36
  /** Capped-bucket pair expansion over (doc_id, sim) member structs:
    * explode → a<b → Hamming filter. Shared by both blocking levels.
    */
  private def memberPairs(buckets: DataFrame, maxHamming: Int,
      width: Int): DataFrame =
    buckets
      // spread the quadratic pair expansion at the caller's measured
      // pair-volume width (r16 — see expandWidth / PairsPerTask)
      .repartition(math.max(1, width))
      .select(explode(col("members")).as("m"), col("members"))
      .select(col("m"), explode(col("members")).as("n"))
      .filter(col("m.doc_id") < col("n.doc_id"))
      .select(col("m.doc_id").as("a"), col("n.doc_id").as("b"),
        Hashing.hamming64(col("m.sim"), col("n.sim")).as("hamming"))
      .filter(col("hamming") <= maxHamming)

  /** Level-3 kernel: ONE oversized level-2 sub-bucket's members in,
    * Hamming-filtered pairs out. Re-keys the members on the 8
    * stride-interleaved 8-bit chunks of the full code (same partition
    * as [[Hashing.simHashInterleavedChunks]], computed JVM-side —
    * position k's value packs code bits {k, k+8, …, k+56}): per
    * position a 256-way counting sort groups the members; a group of
    * 2..cap pairs up under the Hamming filter (deduped across
    * positions — a near pair can agree on several chunks); a group
    * past the cap emits a SENTINEL (a = -1, b = group size,
    * hamming = -1) for the caller's drop-accounting observe. With
    * `expand = false` (the level-3 volume budget tripped) the whole
    * bucket drops as one sentinel and no pairing runs — bounded
    * degradation with the accounting intact. CPU is O(8·n + pairs),
    * scratch O(n): nothing here is quadratic in an over-cap group.
    */
  private[graft] def level3BucketPairs(ids: Array[Long], svs: Array[Long],
      maxHamming: Int, cap: Int,
      expand: Boolean): Iterator[(Long, Long, Int)] = {
    val n = ids.length
    if (!expand) return Iterator.single((-1L, n.toLong, -1))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    // all 8 interleaved values per member in one pass over the 64
    // bits: code bit b contributes bit (b >>> 3) of position (b & 7)
    val vals = new Array[Byte](n * 8)
    var i = 0
    while (i < n) {
      val sv = svs(i)
      val off = i * 8
      var b = 0
      while (b < 64) {
        val p = off + (b & 7)
        vals(p) = (vals(p) | (((sv >>> b) & 1L) << (b >>> 3)).toInt).toByte
        b += 1
      }
      i += 1
    }
    val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
    val cnt = new Array[Int](257)
    val pos = new Array[Int](256)
    val order = new Array[Int](n)
    var k = 0
    while (k < 8) {
      java.util.Arrays.fill(cnt, 0)
      i = 0
      while (i < n) { cnt((vals(i * 8 + k) & 0xFF) + 1) += 1; i += 1 }
      var v = 0
      while (v < 256) { cnt(v + 1) += cnt(v); pos(v) = cnt(v); v += 1 }
      i = 0
      while (i < n) {
        val v2 = vals(i * 8 + k) & 0xFF
        order(pos(v2)) = i
        pos(v2) += 1
        i += 1
      }
      v = 0
      while (v < 256) {
        val lo = cnt(v)
        val hi = cnt(v + 1)
        val g = hi - lo
        if (g > cap) out += ((-1L, g.toLong, -1))
        else if (g >= 2) {
          var x = lo
          while (x < hi) {
            var y = x + 1
            while (y < hi) {
              val ix = order(x)
              val iy = order(y)
              val h = java.lang.Long.bitCount(svs(ix) ^ svs(iy))
              if (h <= maxHamming) {
                val a = math.min(ids(ix), ids(iy))
                val b2 = math.max(ids(ix), ids(iy))
                if (seen.add((a, b2))) out += ((a, b2, h))
              }
              y += 1
            }
            x += 1
          }
        }
        v += 1
      }
      k += 1
    }
    out.iterator
  }

  /** All pairs within Hamming ≤ `maxHamming` over (doc_id, sim) rows,
    * via three-level pigeonhole blocking (third level added r12 when
    * the ×1024 distinct probe measured the two-level cap's recall
    * cliff at ~5 M docs).
    *
    * Level 1: 8×8-bit chunk blocking — a pair at distance ≤7 shares
    * ≥1 chunk. At corpus scale a chunk bucket holds ~N/256 docs, so
    * past ~16k docs typical buckets overflow `MaxBucket`; dropping
    * them (the pre-round-5 behavior) was a silent recall cliff.
    * Level 2: each OVERSIZED bucket is re-blocked on the 8×7-bit
    * sub-chunks of its 56 remainder bits ([[Hashing.simHashSubChunks]]
    * — every member already agrees on the bucket's chunk, so the ≤7
    * differing bits live in the remainder and pigeonhole holds again,
    * exactly, on buckets ~128× smaller.
    * Level 3: a sub-bucket that ALSO overflows (typical once N/256/128
    * crosses the cap, ~2 M docs) re-blocks on the stride-interleaved
    * 8-bit chunks of the full code
    * ([[Hashing.simHashInterleavedChunks]] — pigeonhole is partition-
    * agnostic, and inside the 15 agreed bits the interleave subdivides
    * by ~2⁶). Only a LEVEL-3 bucket that still overflows is dropped —
    * visibly, via `observe` — and ≥65 docs agreeing on that much of
    * the code is an exact-dup flood (q34's job) whose identical-code
    * pairs the uncapped exact branch keeps regardless.
    *
    * The regroupings shuffle only oversized-bucket members —
    * (key…, id, sim) rows, no arrays — so every exchange stays
    * bounded by the overflow population, not the corpus.
    */
  private[graft] def simHashPairs(docs: DataFrame, maxHamming: Int = 7,
      store: PairStorage = new PairStorage): DataFrame = {
    // scan-stat-sized bucket exchanges (cf. minHashPairs) — sized off
    // `docs`' own plan stats (the (id, code) projection), the actual
    // pre-shuffle relation here
    val bucketParts = bucketAggParts(docs)
    // LEVEL-1 MEMBERSHIP STAYS FLAT (r13, found by the ×2048 distinct
    // probe): the chunk key space is only 8×256 = 2048 values, so the
    // old collect_list here sat UNDER ObjectHashAggregate's 128-key
    // sort-fallback threshold per task — the hash-map path held each
    // task's ENTIRE membership (corpus/tasks rows of list buffers) on
    // heap at once: ~3.3 GB at ×1024 distinct (survived next to the
    // storage pool), ~6.7 GB at ×2048 (the fifth envelope OOM class,
    // stage-187 heap death in Collect.update + the checkpoint's
    // UnsafeRow.copy). And 2048 keys is a reduce-parallelism CEILING
    // at corpus scale — giant buckets' lists were built only to be
    // re-exploded into level 2. So level 1 never builds lists now:
    // ONE checkpointed flat membership table (this also deletes the
    // old level-1 full-membership shuffle — flat rows go straight to
    // their consumer exchanges), bucket SIZES as a partial-aggregated
    // count collected to the driver (8×256 rows max — fixed-size,
    // corpus-independent), and members routed by broadcast-joined
    // size: ≤cap buckets collect bounded lists, oversized buckets
    // flow FLAT into the level-2 re-key.
    // Pair-volume estimate (cf. minHashPairs: an oversized chunk
    // bucket re-blocks each member into ≤8 sub-chunks capped at
    // MaxBucket → ≤ 8·MaxBucket·sz) now computes driver-side from the
    // collected sizes and drives the same DISK_ONLY escalation for
    // the caller's pair-set checkpoint and the unions below.
    val flat = store.checkpoint(docs
      .select(col("doc_id"), col("sim"),
        posexplode(Hashing.simHashChunks(col("sim")))
          .as(Seq("chunk_idx", "chunk"))))
    // one checkpoint of the census: the estimate collects it and the
    // member routing broadcasts it
    val sizes = flat.groupBy("chunk_idx", "chunk")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") >= 2) // singleton buckets pair with nothing
      .localCheckpoint()
    val sizeRows = sizes.collect()
    val estPairs = sizeRows.iterator.map { r =>
      val sz = r.getLong(2)
      if (sz <= MaxBucket) sz * (sz - 1L) / 2L else 8L * MaxBucket * sz
    }.sum
    store.escalateFor(docs.sparkSession, estPairs, "simhash")
    // pair-volume-derived expansion/dedup width (cf. minHashPairs) —
    // here the estimate is the driver-side size census above
    val exWidth = expandWidth(estPairs, bucketParts)
    val memb = flat.join(broadcast(sizes),
      Seq("chunk_idx", "chunk")) // inner: drops singleton-bucket members
    val small = memb.filter(col("bsz") <= MaxBucket)
      .repartition(bucketParts, col("chunk_idx"), col("chunk"))
      .groupBy("chunk_idx", "chunk")
      .agg(collect_list(struct(col("doc_id"), col("sim"))).as("members"))
    // Level-2 sub-bucket table, materialized once: it forks into the
    // capped pair expansion AND (r12) the level-3 re-block of
    // sub-buckets that STILL overflow — recomputing the overflow agg
    // per branch would double a corpus-sized stage under a flood.
    // The re-block key is HASHED to one long (r12): at high density
    // this re-block shuffle is the pipeline's volume — every
    // oversized-bucket membership ships once per sub-key, and
    // carrying the full compound key (idx+value per level, 24–44 B)
    // more than doubled the row next to its 16 B (id, code) payload
    // (the ×1024 probe measured the difference as the box's
    // scratch-disk ceiling). xxhash64 of the compound is a pure
    // grouping token — its value is never read downstream; a 64-bit
    // collision merely MERGES two buckets (at worst a visible cap
    // drop, odds ~#buckets²/2⁶⁴ ≈ 1e-6 at 5 M docs).
    val obsFwd = Observation()
    val sub2 = store.checkpoint(memb.filter(col("bsz") > MaxBucket)
      .select(col("chunk_idx"), col("chunk"),
        struct(col("doc_id"), col("sim")).as("m"))
      .select(col("m"),
        posexplode(Hashing.simHashSubChunks(col("m.sim"), col("chunk_idx")))
          .as(Seq("sub_idx", "sub")),
        col("chunk_idx"), col("chunk"))
      .select(xxhash64(lit("l2"), col("chunk_idx"), col("chunk"),
        col("sub_idx"), col("sub")).as("k2"), col("m"))
      // corpus-sized under a flood (cf. minHashPairs's reblock)
      .repartition(bucketParts, col("k2"))
      .groupBy("k2")
      .agg(collect_list(col("m")).as("members"))
      .filter(size(col("members")) >= 2)
      // measured level-3 volume, riding the checkpoint job — the
      // budget decision below reads it with zero extra actions.
      // Single-code buckets don't count: they never forward (below).
      .observe(obsFwd, coalesce(sum(when(
          size(col("members")) > MaxBucket &&
            size(array_distinct(transform(col("members"),
              m => m("sim")))) >= 2, size(col("members")))),
        lit(0L)).cast("long").as("fwd_members")))
    val reblocked = sub2.filter(size(col("members")) <= MaxBucket)
    val level3Rows =
      obsFwd.get("fwd_members").asInstanceOf[Long] * 8L
    val runLevel3 = level3Rows <= Level3MaxRows
    if (!runLevel3)
      System.err.println(f"[graft] simhash: level-3 re-block skipped - " +
        f"$level3Rows%,d keyed rows exceed $Level3MaxRows%,d; oversized " +
        "sub-buckets drop (visible via simhash_reblock metrics; " +
        "exact-code pairs kept)")
    // Level 3 (r12, found by the ×1024 distinct probe): at ~5 M docs a
    // TYPICAL level-2 sub-bucket holds ~N/256/128 ≳ 150 members, so
    // the cap was discarding near-pair recall wholesale (near pairs
    // collapsed 231 k → 16 k at ×1024; drops were observed, never
    // silent — but observed ≠ recovered). Oversized sub-buckets are
    // re-keyed on the STRIDE-INTERLEAVED 8-bit chunks of the full
    // code (the same partition [[Hashing.simHashInterleavedChunks]]
    // documents, computed JVM-side in [[level3BucketPairs]]):
    // pigeonhole holds for any 8-way partition of the 64 bits, and
    // scoped inside the level-2 key the interleave is a fresh ÷~2⁶
    // subdivision. The `observe`s publish what each stage
    // forwards/discards on the query's own action (no extra job;
    // DedupSpec asserts both): a level-3 group that ALSO overflows
    // (≥65 docs agreeing on 15 contiguous + ~2×8 interleaved bits) is
    // an exact-dup flood — q34's job, and the uncapped exact-code
    // branch below keeps its identical-code pairs regardless.
    // Single-code oversized sub-buckets never forward to level 3: all
    // their members share one SimHash, so every within-bucket pair is
    // Hamming 0 and ALREADY owned by the uncapped exact-code branch —
    // under a flood (the ×70/×128 gates: exact-copy cliques) this is
    // ~every oversized bucket, and exploding them ×8 was pure waste.
    // The observe splits the two fates so neither is silent.
    val nCodes =
      size(array_distinct(transform(col("members"), m => m("sim"))))
    val forwarded = sub2.filter(size(col("members")) > MaxBucket)
      .observe("simhash_reblock",
        count(when(nCodes >= 2, 1)).as("forwarded_subbuckets"),
        coalesce(sum(when(nCodes >= 2, size(col("members")))), lit(0L))
          .cast("long").as("forwarded_members"),
        count(when(nCodes < 2, 1)).as("exact_owned_subbuckets"))
      .filter(nCodes >= 2)
    // Level-3 pairing is LOCAL per sub-bucket (r13): the l3 key is
    // scoped INSIDE k2, so one oversized sub-bucket's subdivision
    // never interacts with another's — and each `forwarded` row
    // already CARRIES its full member list (sub2's checkpointed
    // collect_list). Through r12 this ran as a global pipeline
    // (explode ×8 keyed rows per member → repartition →
    // sortWithinPartitions → streaming kernel): correct, but the
    // exchange+sort shuffled 8 narrow rows per forwarded member —
    // ~36 GB of scratch at ×1024 distinct, and an ~870 s q36 wall at
    // ×512 with level 3 engaged. [[level3BucketPairs]] instead
    // re-keys ONE bucket in memory: per interleaved position a
    // 256-way counting sort (the l3 key is 8 bits) groups the
    // members, groups within the cap pair up (Hamming-filtered,
    // deduped across the 8 positions), and a group past the cap
    // emits the same SENTINEL row (a = -1, b = group size) the
    // streamed kernel emitted, so the drop accounting still rides
    // the query's own action through the observe below. Zero
    // exchange, zero sort, CPU linear in forwarded members; the
    // transient scratch is O(members of ONE bucket) — the same order
    // as the checkpointed row being read. Budget-skip mode runs the
    // SAME kernel emitting only sentinels: the `forwarded` observe
    // and the drop counts survive in the executed plan (through r12
    // the skip branch was Filter(false), which PruneFilters rewrote
    // to an empty LocalRelation, silently erasing the
    // simhash_reblock metrics exactly in the regime that drops
    // recall — ADVICE r12).
    val pairs3: DataFrame = {
      val mh = maxHamming
      val cap = MaxBucket
      val expand = runLevel3
      val session = docs.sparkSession
      import session.implicits._
      forwarded
        .select(col("members.doc_id").as("ids"), col("members.sim").as("svs"))
        .as[(Array[Long], Array[Long])]
        .mapPartitions(_.flatMap { case (ids, svs) =>
          level3BucketPairs(ids, svs, mh, cap, expand) })
        .toDF("a", "b", "hamming")
        .observe("simhash_reblock3",
          count(when(col("hamming") < 0, 1)).as("dropped_subbuckets"),
          coalesce(sum(when(col("hamming") < 0, col("b"))), lit(0L))
            .cast("long").as("dropped_members"))
        .filter(col("hamming") >= 0)
    }
    // EXACT-code blocking key (q37's salted-h1 move, ADVICE r7): an
    // exact-dup clique larger than MaxBucket shares every chunk AND
    // every sub-chunk, so both capped levels would drop it — yet its
    // pairs are precisely what q36's `exact_recall_ok` contract
    // promises. Grouping on the full 64-bit code is deterministic and
    // UNCAPPED: the pair expansion is quadratic only in clique size,
    // and those pairs ARE the output (output-sized work, not blowup).
    // Cap drops now cost only NEAR-dup recall, which the observe
    // metrics already surface — the two contracts no longer conflict.
    // Derived from the CHECKPOINTED flat membership (every doc sits in
    // exactly one chunk-0 bucket, and a clique of ≥2 survives the
    // size join's ≥2 filter), so the signature pipeline is not
    // recomputed and the regroup shuffles (id, code) rows once.
    val exactCliques = memb
      .filter(col("chunk_idx") === 0)
      .select(struct(col("doc_id"), col("sim")).as("m"))
      // corpus-sized regroup (every multi-member chunk-0 bucket's docs)
      .repartition(bucketParts, col("m.sim"))
      .groupBy(col("m.sim").as("code"))
      .agg(collect_list(col("m")).as("members"))
      .filter(size(col("members")) >= 2)
    memberPairs(small, maxHamming, exWidth)
      .union(memberPairs(reblocked, maxHamming, exWidth))
      .union(pairs3)
      .union(memberPairs(exactCliques, maxHamming, exWidth))
      // dedup across chunk tables AFTER the cheap Hamming filter:
      // the exchange carries only true near-dup pairs — co-located at
      // the pair-volume width (r16, cf. minHashPairs's expand)
      .repartition(exWidth, col("a"), col("b"))
      .distinct()
  }

  /** SimHash near-dup: 64-bit code per doc, Hamming ≤ 7 via two-level
    * chunk blocking ([[simHashPairs]]) + `bit_count(xor)` verify.
    *
    * Unlike q35/q37/q38, the feature here is a single LONG, so the
    * scale-optimal shape is to carry the code THROUGH the blocking
    * (an (id, code) row is barely wider than an id row): pairs emerge
    * from bucket expansion with both codes attached, the Hamming
    * filter runs before anything is deduplicated, and there is no
    * verify join at all — one aggregation shuffle end-to-end. The
    * candidate-prune fetch machinery (`attachFeatures`) exists for
    * features too wide to ship through blocking.
    */
  /** q36's raw pair set (a, b, hamming) — the operator output proper,
    * consumed by [[graft.ScaleStress]] and DedupSpec.
    */
  private[graft] def simHashPairsFor(s: SparkSession, dir: String): DataFrame =
    simHashPairs(simHashDocs(s, dir))

  private def simHashDocs(s: SparkSession, dir: String): DataFrame =
    Hashing.simHashes(shingle2Of(fanOut(Tables.documents(s, dir)
      .select(col("doc_id"), col("text")))), "doc_id", "shingles")
      .select(col("doc_id"), col("simhash").as("sim"))

  /** q36 query entry: the q121-style CONTRACT view over the SimHash
    * pair set, so the driver's DuckDB gate hash-checks it (the codes
    * derive from xxhash64; SQL can't reproduce them — but these
    * invariants are exact):
    *  - `n_exact_dup_pairs` is replicable: pairs with IDENTICAL
    *    distinct-2-shingle sets, computed by DuckDB from the text;
    *  - `exact_recall_ok`: every such pair MUST appear in the SimHash
    *    output (identical sets ⇒ identical codes ⇒ Hamming 0, and the
    *    two-level blocking must surface the pair) — a broken signature,
    *    blocking, or cap regression flips it;
    *  - `hamming_bound_ok` / `ordering_ok`: every emitted pair within
    *    the Hamming ≤ 7 contract, canonically a < b, no self-pairs.
    * The pair LISTING stays asserted by DedupSpec (planted-pair and
    * oversized-bucket specs) and ScaleStress (×8 clique recall).
    */
  private def q36(s: SparkSession, dir: String): DataFrame = {
    val store = new PairStorage
    val shingled = shingle2Of(fanOut(Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))))
    // ONE corpus pass (r16, guide §1.2): the SimHash signature and the
    // exact-shingle-set signature (n, h1, h2 — see the canon doc
    // below) are both per-row functions of the shingle array, so they
    // fuse into a single projection, checkpointed NARROW (5 longs per
    // doc). Through r15 `shingled` fed the pair pipeline and the
    // contract view as two separate lineages, so the tokenize +
    // 2-shingle pass ran TWICE per q36 — a full redundant corpus scan
    // at deployment scale (the same class as q136's r16 fix).
    val sorted = array_sort(col("shingles"))
    val sig = store.checkpoint(shingled.select(col("doc_id"),
      Hashing.simHashCol(col("shingles")).as("sim"),
      size(sorted).as("n"),
      xxhash64(sorted).as("h1"),
      xxhash64(lit("g2"), sorted).as("h2")))
    val docs = sig.filter(col("sim").isNotNull)
      .select(col("doc_id"), col("sim"))
    // feeds three aggregates below — materialize the pair pipeline once
    val pairs = store.checkpoint(simHashPairs(docs, store = store))
    // Exact-dup pairs join on the (n, h1, h2) signature of the sorted
    // shingle set, not the set's JSON encoding: equal signatures ⇒
    // equal sets at 2^-128 collision odds (q37's documented pattern),
    // and the equi-join exchange ships 24-byte keys instead of
    // corpus-sized text — at ×8 the string self-join dominated the
    // contract view's cost. Since r16 a plain projection of the
    // single-pass `sig` checkpoint (no second corpus scan).
    val canon = sig.select(col("doc_id"), col("n"), col("h1"), col("h2"))
    // Both contract probes pin sort-merge: canon is corpus-sized and
    // `pairs` is OUTPUT-sized, and the planner's under-estimate of
    // the checkpointed/distinct()-derived sides chose a broadcast here —
    // the driver-side hash build of the ×128 pair set (~78 M rows)
    // was the first genuine scale OOM this harness found (r10). SMJ
    // keeps both probes spill-safe at any
    // corpus/output size; the exchange is the probe's own input
    // either way.
    val exactPairs = canon.select(col("doc_id").as("a"),
        col("n"), col("h1"), col("h2"))
      .join(canon.select(col("doc_id").as("b"),
        col("n"), col("h1"), col("h2")).hint("merge"), Seq("n", "h1", "h2"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
    val nExact = exactPairs.agg(count(lit(1)).as("n_exact_dup_pairs"))
    val missed = exactPairs.join(pairs.hint("merge"), Seq("a", "b"), "left_anti")
      .agg(count(lit(1)).as("n_missed"))
    val bounds = pairs.agg(
      coalesce(expr("bool_and(hamming <= 7)"), lit(true))
        .as("hamming_bound_ok"),
      coalesce(expr("bool_and(a < b)"), lit(true)).as("ordering_ok"))
    // the contract view's three aggregates (exact-signature
    // self-join, anti-join recall probe, bounds scan) are the query's
    // last compute, checkpointed as their own action (1-row result)
    store.checkpoint(nExact.crossJoin(missed).crossJoin(bounds)
      .select(col("n_exact_dup_pairs"),
        (col("n_missed") === 0).as("exact_recall_ok"),
        col("hamming_bound_ok"), col("ordering_ok")))
  }

  private val q36Sql =
    """WITH toks AS (
      |  SELECT doc_id,
      |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS tk
      |  FROM documents),
      |f AS (
      |  SELECT doc_id,
      |         list_sort(list_distinct(list_transform(range(1, len(tk)),
      |           i -> array_to_string(tk[i:i+1], ' ')))) AS gset
      |  FROM toks WHERE len(tk) >= 2)
      |SELECT COUNT(*) AS n_exact_dup_pairs, TRUE AS exact_recall_ok,
      |       TRUE AS hamming_bound_ok, TRUE AS ordering_ok
      |FROM f x JOIN f y ON x.doc_id < y.doc_id AND x.gset = y.gset""".stripMargin

  // ---------------------------------------------------------------- q37
  /** Word-3-gram Jaccard similarity join, blocked on shared k-min
    * shingle hashes (two docs with Jaccard j share the global min hash
    * with prob j; using the k=4 smallest boosts recall to
    * ~1-(1-j)^4 while keeping candidate generation an equi-join).
    *
    * The verify stage is guarded so its cost is bounded by the count
    * of pairs that genuinely NEED an exact Jaccard, not by the
    * candidate count — the round-5 ×8 stress (a 100%-duplicated
    * corpus) drove the gram fetch to corpus size and 16.6 s. Each doc
    * ships a compact signature THROUGH blocking (q36's
    * carry-the-feature move; ~150 bytes/doc vs corpus-sized gram
    * arrays):
    *  - `n` (gram count) + a 2×64-bit content hash of the sorted gram
    *    hash array. Pairs with equal (n, h1, h2) have equal gram SETS
    *    (collision odds 2^-128 per pair) → Jaccard exactly 1.0, no
    *    fetch. On a duplicate-flooded corpus this short-circuits
    *    nearly every candidate.
    *  - the bottom-16 k-min sketch (its first 4 entries are the
    *    blocking keys; entries 5-8 re-block oversized buckets).
    *    Non-exact pairs are dropped only by the deterministic size
    *    bound min(n_a,n_b)/max(n_a,n_b) — an upper bound on Jaccard,
    *    so zero false negatives and the engine stays EXACT w.r.t. the
    *    brute-force oracle. (The r6 sketch-overlap gate was removed
    *    in r7: its ~2.6% boundary miss probability made an exact
    *    hash contract probabilistically flaky — ADVICE r7.)
    */
  /** (doc_id, text) → distinct word-3-gram sets, q37's feature. */
  private def gram3Of(raw: DataFrame): DataFrame = raw
    .select(col("doc_id"), T.tokens(col("text")).as("toks"))
    .filter(size(col("toks")) >= 3)
    .select(col("doc_id"),
      array_distinct(T.wordNGrams(col("toks"), 3)).as("grams"))

  private def q37(s: SparkSession, dir: String): DataFrame =
    gramJaccardPairs(fanOut(Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))))
      .orderBy("a", "b")

  /** q37's pair pipeline over an explicit (doc_id, text) corpus
    * (factored for the flood spec, cf. [[minHashPairs]]).
    */
  private[graft] def gramJaccardPairs(raw: DataFrame): DataFrame = {
    val store = new PairStorage
    val bucketParts = bucketAggParts(raw)
    val docs = gram3Of(raw)
    // Bind the sorted hash array as an attribute before fanning it
    // into h1/h2/sk (cf. q36: unbound HOF chains re-evaluate per
    // reference). `hs` IS the canonical gram-set encoding: sorted
    // distinct 64-bit gram hashes.
    val sigs = docs
      .select(col("doc_id"), size(col("grams")).as("n"),
        array_sort(array_distinct(Hashing.shingleHashes(col("grams"))))
          .as("hs"))
      .select(struct(
        col("doc_id"), col("n"),
        xxhash64(col("hs")).as("h1"),
        xxhash64(lit("g2"), col("hs")).as("h2"),
        slice(col("hs"), 1, 16).as("sk")).as("m"))
    // Blocking keys: the bottom-4 min hashes PLUS the exact-signature
    // h1 (salted into its own key space). The h1 key makes exact-dup
    // recall deterministic — a clique of copies always shares its own
    // bucket, sized by the copy count, even when every min-hash key
    // drowns in an oversized bucket. Measured at ×8: min-keys alone
    // lose 6,748 of 140,000 clique pairs (popular grams flood their
    // buckets past MaxBucket); with the h1 key, recall is 100%.
    // The exact buckets are flagged (`isx`) and UNCAPPED (r7): a
    // clique larger than MaxBucket shares every sketch entry too, so
    // both capped levels would drop it wholesale — the ×70 flood
    // harness measured exactly that (recall 0 at clique size 70).
    // Expansion of an exact bucket is output-sized by construction
    // (every pair is a true J=1 answer).
    val keyed = sigs.select(col("m"),
      explode(array_union(slice(col("m.sk"), 1, 4),
        array(xxhash64(lit("exact"), col("m.h1"))))).as("minkey"))
      .withColumn("isx",
        col("minkey") === xxhash64(lit("exact"), col("m.h1")))
    // feeds all three branch filters — materialize once (cf.
    // simHashPairs); a min-key colliding with another doc's exact
    // hash just splits that bucket into its two roles, losing nothing
    // pair-volume estimate riding the checkpoint job (cf. minHashPairs:
    // exact/small buckets expand C(sz,2); oversized re-block ≤
    // 4·MaxBucket·sz) — drives the DISK_ONLY escalation downstream
    val szEst = size(col("members")).cast("long")
    val obsEst = Observation()
    // scan-stat-sized exchange (cf. minHashPairs's bucket table)
    val buckets = store.checkpoint(keyed
      .repartition(bucketParts, col("minkey"), col("isx"))
      .groupBy("minkey", "isx").agg(collect_list("m").as("members"))
      .filter(size(col("members")) >= 2)
      .observe(obsEst, coalesce(sum(
          when(col("isx") || szEst <= MaxBucket,
            szEst * (szEst - 1L) / 2L)
            .otherwise(lit(4L * MaxBucket) * szEst)), lit(0L))
        .cast("long") // cf. minHashPairs: `/` is double division
        .as("est_pairs")))
    val estPairs = obsEst.get("est_pairs").asInstanceOf[Long]
    store.escalateFor(raw.sparkSession, estPairs, "gram")
    // pair-volume-derived expansion/dedup width (cf. minHashPairs)
    val exWidth = expandWidth(estPairs, bucketParts)
    val small = buckets.filter(!col("isx") &&
      size(col("members")) <= MaxBucket)
    val exactBuckets = buckets.filter(col("isx"))
    // Level 2 (cf. simHashPairs): an OVERSIZED min-key bucket is
    // re-blocked on its members' next-4 min hashes — two near-dups
    // stranded in a flooded bucket very likely share another bottom-16
    // entry (P ≈ 1-(1-J)^4 per level) — capped again; only a
    // sub-bucket that ALSO overflows is dropped. The re-block exchange
    // carries only overflow members, not the corpus.
    val reblocked = buckets
      .filter(!col("isx") && size(col("members")) > MaxBucket)
      .select(col("minkey"), explode(col("members")).as("m"))
      // Short-sketch fallback: slice(sk, 5, 4) of a ≤4-entry sketch
      // is EMPTY and explode would silently eject the member from the
      // re-block (a ≤4-gram doc stranded in a flooded bucket lost its
      // near-dup pairs). Such a doc re-keys on its whole sketch
      // instead — set ranks differ per doc, so a shared gram can sit
      // in a partner's 5-8 slice while being within the short doc's
      // bottom-4, and the pair still meets in a sub-bucket.
      .select(col("minkey"), col("m"),
        explode(when(size(col("m.sk")) >= 5, slice(col("m.sk"), 5, 4))
          .otherwise(col("m.sk"))).as("subkey"))
      // corpus-sized under a flood (cf. minHashPairs's reblock)
      .repartition(bucketParts, col("minkey"), col("subkey"))
      .groupBy("minkey", "subkey").agg(collect_list("m").as("members"))
      .filter(size(col("members")).between(2, MaxBucket))
    def expandSigPairs(b: DataFrame): DataFrame = b
      // spread the quadratic pair expansion at the measured pair
      // volume (r16 — cf. minHashPairs's expand; see PairsPerTask)
      .repartition(exWidth)
      .select(explode(col("members")).as("x"), col("members"))
      .select(col("x"), explode(col("members")).as("y"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        (col("x.n") === col("y.n") && col("x.h1") === col("y.h1") &&
          col("x.h2") === col("y.h2")).as("exact"),
        // EXACT necessary condition only: J = |∩|/|∪| ≤ n_min/n_max,
        // so size-ratio < 0.3 provably fails the threshold — zero
        // false negatives. The r6 sketch-overlap gate (bottom-16
        // intersection ≥ 2) is deliberately NOT part of this flag:
        // it had a ~2.6% per-pair miss probability at the J ≈ 0.3
        // boundary (binom(16, J, ≤1)) while the DuckDB oracle is an
        // exact brute-force Jaccard join — a probabilistic gate in
        // front of an exact contract makes the hash check flaky on
        // any corpus with boundary-similarity pairs (ADVICE r7).
        // Engine recall is now exact w.r.t. the oracle; the price is
        // a larger verify join (×8 measured r6: 1.29M candidates vs
        // 75k gated), still candidate-sized and output-bounded.
        (least(col("x.n"), col("y.n")).cast("double") /
            greatest(col("x.n"), col("y.n")).cast("double") >= 0.3)
          .as("plausible"))
    // feeds two consumers (shortcut + verify): materialize once.
    // (a, b) repartition co-locates the cross-bucket dedup at the
    // pair-volume width (r16 — cf. minHashPairs's expand: partial
    // agg bought nothing, duplicates sit in different partitions)
    val pairs = store.checkpoint(expandSigPairs(small)
      .union(expandSigPairs(reblocked))
      .union(expandSigPairs(exactBuckets))
      .repartition(exWidth, col("a"), col("b"))
      .distinct())
    // `pairs` (its own lineage-cut checkpoint) was the bucket table's
    // only consumer — free the pipeline's largest block set now
    // instead of at section end (see releaseCheckpoint)
    releaseCheckpoint(buckets)
    val k = Conf.VerifySlices(raw.sparkSession).toInt
    // Release-as-you-go on the sliced scale path (r16): `pairs`
    // carries every candidate (incl. implausible) plus two flag
    // columns, and both its consumers below are lazy filters — without
    // the split it must stand through the WHOLE verify phase, the
    // measured ×8192 binding resource (SURVEY §21.3). Splitting
    // materializes the two consumers as strictly smaller checkpoints
    // (two filter jobs over a lineage-cut leaf — no shuffle), after
    // which `pairs` is dead and released before any slice runs; the
    // work-list is released after the last slice, the exact shortcut
    // and slice outputs after the final (lineage-cut) union. k = 1
    // (the bench/gate default) keeps the unsplit plan — no new
    // barriers in the benched plan.
    val splitPairs = k >= 2
    val (exactPairs, toVerify) =
      if (splitPairs) {
        val ep = store.checkpoint(pairs.filter(col("exact"))
          .select(col("a"), col("b"), lit(1.0).as("jaccard")))
        val tv = store.checkpoint(pairs.filter(!col("exact") && col("plausible"))
          .select(col("a"), col("b")))
        releaseCheckpoint(pairs)
        (ep, tv)
      } else (
        pairs.filter(col("exact"))
          .select(col("a"), col("b"), lit(1.0).as("jaccard")),
        pairs.filter(!col("exact") && col("plausible"))
          .select(col("a"), col("b")))
    def verifySliceOf(cands: DataFrame): DataFrame =
      attachFeaturesBy(cands,
        ids => hashedFeatures(gram3Of(raw.join(ids, "doc_id")), "grams"),
        "doc_id", "hsh", store)
        .select(col("a"), col("b"),
          jaccard(col("f_a"), col("f_b")).as("jaccard"))
        .filter(col("jaccard") >= 0.3)
    val sliceOuts = scala.collection.mutable.Buffer[DataFrame]()
    val verified =
      if (k == 1) verifySliceOf(toVerify)
      else {
        // sliced verify (see VerifySlices): bound the transient
        // scratch at ~1/k by materializing one hash-disjoint slice at
        // a time and releasing its intermediates before the next.
        // The slice frees exactly the checkpoints IT created (the
        // thread-local collector — see checkpointCollector; ADVICE
        // r14: the old global-registry diff would have unpersisted a
        // concurrent pipeline's checkpoints too).
        val sc = raw.sparkSession.sparkContext
        (0 until k).map { i =>
          val made = scala.collection.mutable.Set[Int]()
          val out = collectCheckpoints(made) {
            store.checkpoint(verifySliceOf(
              toVerify.filter(
                pmod(xxhash64(lit("slice"), col("a")), lit(k.toLong)) === i))) }
          val keep = out.queryExecution.analyzed match {
            case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
            case _ => -1
          }
          val live = sc.getPersistentRDDs
          (made - keep).foreach(id =>
            live.get(id).foreach(_.unpersist(blocking = true)))
          System.gc() // ContextCleaner drops the slice's shuffle files
          sliceOuts += out
          out
        }.reduce(_ union _)
      }
    // the verify work-list's last consumer was the final slice — on
    // the split path its blocks are dead before the final union job
    if (splitPairs) releaseCheckpoint(toVerify)
    // The exact-Jaccard verify join is the pipeline's last (and, on a
    // near-dup-rich corpus, largest) compute — materialize it as its
    // own action instead of folding it into the caller's.
    // Output-sized: only above-threshold pairs land in the checkpoint.
    val fin = store.checkpoint(exactPairs.union(verified))
    // On the split path the final union COPIED the exact-shortcut and
    // slice-output blocks into its own lineage-cut checkpoint — they
    // are dead the moment it lands.
    if (splitPairs) {
      releaseCheckpoint(exactPairs)
      sliceOuts.foreach(releaseCheckpoint)
    }
    fin
  }

  // ---------------------------------------------------------------- q38
  /** Embedding cosine near-dup via random-hyperplane LSH blocking
    * (8 hyperplanes × 8 tables) + exact cosine ≥ 0.4 verify with the
    * native CosineSim expression. Hyperplanes are seeded-deterministic.
    */
  /** q38's candidate generation (factored for the flood spec): 8
    * capped SRP tables plus the uncapped exact-embedding key (table
    * index 8 — the r7 flood-proofing move, cf. [[minHashPairs]]): a
    * byte-identical embedding clique past the cap still surfaces all
    * its pairs (output-sized by construction).
    */
  private[graft] def embeddingPairs(emb: DataFrame): DataFrame = {
    // scan-stat-sized bucket exchange (cf. minHashPairs)
    val bucketParts = bucketAggParts(emb)
    val coded = emb.select(col("vec_id"),
      posexplode(concat(
        Lsh.srpCodes(col("embedding"), tables = 8, bits = 8),
        array(xxhash64(lit("exact-emb"), col("embedding")))))
        .as(Seq("tbl", "code")))
    val szEst = size(col("ids")).cast("long")
    val obsEst = Observation()
    val buckets = bigCheckpoint(coded
      .repartition(bucketParts, col("tbl"), col("code"))
      .groupBy("tbl", "code").agg(collect_list("vec_id").as("ids"))
      // drop singleton buckets BEFORE the checkpoint (cf. the ≥2
      // filters in minHashPairs/gramJaccardPairs): the exact-emb key
      // gives nearly every vector a unique bucket on a non-duplicated
      // corpus, so an unfiltered checkpoint materializes a
      // corpus-sized table the pair expansion immediately discards
      .filter(size(col("ids")) >= 2)
      // pair-volume estimate riding the checkpoint job (cf.
      // minHashPairs): capped SRP buckets expand C(sz,2) (oversized
      // ones are dropped by the cap filter → 0), the exact-emb
      // table (tbl 8) is uncapped by construction
      .observe(obsEst, coalesce(sum(
          when(col("tbl") === 8 || szEst <= MaxBucket,
            szEst * (szEst - 1L) / 2L).otherwise(lit(0L))), lit(0L))
        .cast("long") // cf. minHashPairs: `/` is double division
        .as("est_pairs")))
    // pair-volume-derived expansion/dedup width (cf. minHashPairs)
    val exWidth =
      expandWidth(obsEst.get("est_pairs").asInstanceOf[Long], bucketParts)
    bucketPairs(buckets.filter(col("tbl") < 8), width = exWidth)
      .union(bucketPairs(buckets.filter(col("tbl") === 8),
        cap = Int.MaxValue, width = exWidth))
      // ONE co-located cross-table dedup (r16 — replaces the per-call
      // distincts, cf. minHashPairs's expand)
      .repartition(exWidth, col("a"), col("b"))
      .distinct()
  }

  private def q38(s: SparkSession, dir: String): DataFrame = {
    val store = new PairStorage
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val cands = embeddingPairs(emb)
    // cf. q37: the cosine verify is the last compute, checkpointed as
    // its own action. Output-sized (cos >= 0.4 pairs only).
    store.checkpoint(attachFeatures(cands, emb, "vec_id", "embedding", store)
      .select(col("a"), col("b"),
        CosineSim(col("f_a"), col("f_b")).as("cos"))
      .filter(col("cos") >= 0.4))
      .orderBy("a", "b")
  }

  /** q35/q37 get brute-force pair oracles: at verify-scale (sf0.01,
    * 500 docs) DuckDB can compute all-pairs Jaccard exactly, and the
    * testdata's similarity gap (planted pairs ≈0.99, background <0.3)
    * puts LSH recall at 1 for every above-threshold pair, so the
    * blocked result equals the brute-force result. q36/q38 have no SQL
    * oracle: their codes derive from xxhash64 / seeded Gaussian
    * hyperplanes, which DuckDB cannot reproduce — DedupSpec asserts
    * their planted-pair semantics instead.
    */
  private val tokSql =
    """string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')"""

  /** Brute-force above-threshold pair SQL WITHOUT a final ORDER BY, so
    * q102's cluster oracle can embed it as a CTE body.
    */
  private[queries] def gramJaccardPairsSql(n: Int, thresh: Double): String =
    s"""WITH toks AS (
       |  SELECT doc_id, $tokSql AS toks FROM documents),
       |feats AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(range(1, len(toks) - ${n - 2}),
       |           i -> array_to_string(toks[i:i+${n - 1}], ' '))) AS f
       |  FROM toks WHERE len(toks) >= $n)
       |SELECT * FROM (
       |  SELECT x.doc_id AS a, y.doc_id AS b,
       |         CAST(len(list_intersect(x.f, y.f)) AS DOUBLE) /
       |         CAST(len(list_distinct(list_concat(x.f, y.f))) AS DOUBLE) AS jaccard
       |  FROM feats x JOIN feats y ON x.doc_id < y.doc_id)
       |WHERE jaccard >= $thresh""".stripMargin

  private def gramJaccardSql(n: Int, thresh: Double): String =
    gramJaccardPairsSql(n, thresh) + "\nORDER BY a, b"

  /** q35's brute-force oracle, shared by the streaming near-dup
    * operator (q138): a drained stream must equal the batch pair set,
    * which at verify scale equals brute force (see the recall note
    * above [[tokSql]]).
    */
  private[graft] def nearDupOracleSql: String = gramJaccardSql(2, 0.5)

  /** q139's oracle (streaming apply): the brute-force pair set grouped
    * by its LARGER member — the pairwise min-id-wins drop rule. One
    * row per dropped doc with the strongest match and the evidence
    * count; deterministic end to end (same hash functions both sides,
    * and at verify scale the engine pair set ≡ brute force — the
    * standing q35/q138 gate).
    */
  private[graft] def nearDupApplyOracleSql: String =
    s"""SELECT b AS doc_id, MAX(jaccard) AS max_jaccard,
       |       COUNT(*) AS n_dup_sources
       |FROM (${gramJaccardPairsSql(2, 0.5)})
       |GROUP BY b ORDER BY doc_id""".stripMargin

  /** q136's brute-force oracle: all-pairs 2-shingle Jaccard ≥ 0.5
    * restricted to pairs whose HIGHER id is in the increment (new ids
    * are the top ~20% by construction, so b ≥ split ⟺ the pair
    * touches a new doc). `//` is DuckDB integer division — same floor
    * as the engine's `maxId * 4 / 5` Long arithmetic.
    */
  private val q136Sql =
    s"""WITH sp AS (SELECT MAX(doc_id) * 4 // 5 AS v FROM documents),
       |toks AS (
       |  SELECT doc_id, $tokSql AS toks FROM documents),
       |feats AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(range(1, len(toks)),
       |           i -> array_to_string(toks[i:i+1], ' '))) AS f
       |  FROM toks WHERE len(toks) >= 2)
       |SELECT * FROM (
       |  SELECT x.doc_id AS a, y.doc_id AS b,
       |         CAST(len(list_intersect(x.f, y.f)) AS DOUBLE) /
       |         CAST(len(list_distinct(list_concat(x.f, y.f))) AS DOUBLE) AS jaccard,
       |         x.doc_id < (SELECT v FROM sp) AS vs_base
       |  FROM feats x JOIN feats y
       |    ON x.doc_id < y.doc_id AND y.doc_id >= (SELECT v FROM sp))
       |WHERE jaccard >= 0.5
       |ORDER BY a, b""".stripMargin

  // ---------------------------------------------------------------- q70
  /** Benchmark decontamination: flag corpus documents sharing word
    * 3-grams with an eval/benchmark set (here: `doc_id % 97 == 0`, a
    * deterministic ~1% probe), reporting how many distinct grams each
    * document shares.
    *
    * Scale shape: the eval set is benchmark-sized (thousands of docs),
    * so its distinct gram set BROADCASTS; the corpus side is a pure
    * map-side explode feeding a broadcast hash join — the 100 TB scan
    * never shuffles its grams, and the only exchange is the
    * (contaminated-doc, count) aggregation, sized by the hit rate.
    */
  private def q70(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), T.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        array_distinct(T.wordNGrams(col("toks"), 3)).as("grams"))
    val isEval = pmod(col("doc_id"), lit(97)) === 0
    val evalGrams = docs.filter(isEval)
      .select(explode(col("grams")).as("gram")).distinct()
      .localCheckpoint() // leaf child for the broadcast (cf. dedup doc)
    docs.filter(!isEval)
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .join(broadcast(evalGrams), "gram")
      // grams are per-doc distinct, so COUNT(*) = distinct shared grams
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  private val q70Sql =
    """WITH toks AS (
      |  SELECT doc_id,
      |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, len(t) - 1),
      |           i -> array_to_string(t[i:i+2], ' '))) AS g
      |  FROM toks WHERE len(t) >= 3),
      |eg AS (SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 97 = 0),
      |cg AS (SELECT doc_id, unnest(g) AS gram FROM grams WHERE doc_id % 97 <> 0)
      |SELECT doc_id, COUNT(*) AS n_shared
      |FROM cg JOIN eg USING (gram)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q85
  /** Shared-span detection: 16-token spans appearing in more than one
    * document — the substring-dedup primitive that catches copied
    * paragraphs inside otherwise-distinct documents (doc-level
    * MinHash misses these below its Jaccard threshold). Explode the
    * per-doc DISTINCT span set, one partial-agg shuffle on the span,
    * keep spans with >1 distinct doc. At 100 TB the exchange carries
    * (span-hash, doc_id) pairs — in production you'd ship
    * `xxhash64(span)` instead of the text (collision-checked), same
    * plan; text here so the oracle can reproduce it.
    */
  private val SpanTokens = 16

  private def q85(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), T.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= SpanTokens)
      .select(col("doc_id"),
        explode(array_distinct(T.wordNGrams(col("toks"), SpanTokens)))
          .as("span"))
      .groupBy("span")
      // (span, doc_id) is UNIQUE by construction — array_distinct
      // dedupes each doc's span list before the explode — so
      // count(*) ≡ count(DISTINCT doc_id) here, and the plain count
      // skips the distinct-aggregate rewrite (an extra exchange +
      // aggregate over (span, doc_id) keys with no map-side count
      // reduction). At 100 TB the span stream dominates this query;
      // one aggregation stage instead of two is the difference.
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") > 1)
      .orderBy("span")

  private val q85Sql =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS t
       |  FROM documents),
       |spans AS (
       |  SELECT doc_id,
       |         unnest(list_distinct(list_transform(range(1, len(t) - ${SpanTokens - 2}),
       |           i -> array_to_string(t[i:i+${SpanTokens - 1}], ' ')))) AS span
       |  FROM toks WHERE len(t) >= $SpanTokens)
       |SELECT span, COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS first_doc
       |FROM spans GROUP BY span HAVING COUNT(DISTINCT doc_id) > 1
       |ORDER BY span""".stripMargin

  // --------------------------------------------------------------- q102
  /** Dedup CLUSTER assignment: near-dup PAIRS (q35's verified
    * MinHash-LSH output) promoted to per-doc cluster ids — the step a
    * real dedup pipeline needs before it can keep one canonical doc
    * per group (pairs alone can't answer "which docs are mutual
    * near-dups via a chain A~B~C").
    *
    * Algorithm: min-label propagation to a fixpoint — every node
    * starts as its own label; each round, a node takes the min of its
    * own and its neighbors' labels; converges in O(component diameter)
    * rounds. Near-dup components are short chains (diameter ≤ a few),
    * so rounds stay in low single digits; each round is ONE shuffle of
    * (id, label) rows sized by the edge list — never the corpus, never
    * feature arrays. Per-round `localCheckpoint` cuts the lineage so
    * round k+1 re-reads round k's materialized labels, not the whole
    * history (the same iterative-convergence shape GraphX's connected
    * components uses). If the diameter exceeds the round cap the
    * labeling escalates automatically to large-star/small-star
    * (O(log n) rounds regardless of diameter — see
    * [[ConnectedComponents]]), so chain-heavy graphs degrade in
    * round count, never in correctness.
    *
    * Output: one row per doc that appears in any near-dup pair, its
    * cluster id (= min doc_id reachable), the cluster size, and the
    * canonical-keeper flag. Oracle: DuckDB recursive-CTE transitive
    * closure over the same brute-force pair set q35's oracle uses.
    */
  /** Converged (doc_id → min-reachable-label) table for the near-dup
    * pair graph. A [[graft.Memo]] stage like the pair set itself: the
    * label table is the second materialized intermediate of a dedup
    * pipeline (pairs → labels → apply), consumed by q102 (report),
    * q111 (apply) and q112 (summary).
    */
  private[queries] def clusterLabels(s0: SparkSession, dir: String): DataFrame =
    graft.Memo(s0, "cluster_labels", dir, "documents") {
      // NO second materialization: nearDupPairs IS already an eager
      // pair-level checkpoint, so narrowing to (a, b) stays a lazy
      // projection over that leaf — a checkpointed copy here doubled
      // the pair table's scratch footprint for nothing (at ×512 the
      // duplicate was ~a quarter of the q102 path's disk peak).
      val table = pairTable(s0, dir)
      val pairs = table.pairs.select(col("a"), col("b"))
      // The label loop iterates over the verified PAIR set — orders of
      // magnitude smaller than the corpus (it is the near-dup rate).
      // Its per-round shuffles would otherwise inherit the corpus-sized
      // partition count and pay ~rounds × partitions of task overhead
      // for KB of data. Sized to the measured pair VOLUME (the count is
      // a leaf scan of the checkpoint): ~4 M edge rows per partition,
      // floor 4 (the r6 gate-scale win — tiny loops are fixed-cost
      // dominated). The floor was hardcoded until ×512 put 1.3 B
      // symmetric edge rows through a 4-task loop — correct and
      // spill-safe, but serializing 8× the cores' worth of work; at
      // 100 TB the same pin would idle a whole cluster. CAP at
      // parallelism/4, not parallelism: a loop reduce task is
      // memory-heavy (two shuffled join sides sorted + aggregated,
      // spill-merge and codec buffers untracked by the memory
      // manager), and one such task per core in a SHARED heap is an
      // allocation-rate OOM — measured at ×256, where the 32-way loop
      // died in GCLocker thrash while 4-way had passed. One heavy
      // task per ~4 cores matches the per-executor heap share a real
      // cluster gives (4-5 cores/executor); local[32]'s
      // 32-threads-one-heap shape is the outlier the cap protects.
      // Loop width also multiplies CONCURRENT spill volume (each
      // round holds ~width × two sorted join sides of shuffle files):
      // measured at ×512 on a ~61 GB-scratch box, width 4 fits
      // (1579 s green) and width 8 runs out of device mid-loop.
      val cap = math.max(4L, s0.sparkContext.defaultParallelism / 4L)
      // pair volume observed on the pair checkpoint's own job
      // — no per-invocation count action (VERDICT r10 #4)
      val loopParts = math.max(4L, math.min(cap,
        2L * table.count / 4000000L)).toInt
      // Min-label with automatic escalation to large-star/small-star
      // if the graph's diameter exceeds the round cap (r6: the cap
      // used to return silently-partial labels on a long chain; now
      // it degrades to the O(log n) algorithm instead — see
      // ConnectedComponents). The edge-sized checkpoints take the pair
      // pipeline's storage level.
      ConnectedComponents.labelsFor(pairs, loopParts = Some(loopParts),
        checkpoint = table.store.checkpoint)
    }(Seq(_))

  private def q102(s0: SparkSession, dir: String): DataFrame =
    clusterLabels(s0, dir)
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .withColumn("is_keeper", col("doc_id") === col("cluster_id"))
      .orderBy("doc_id")

  private val q102Sql =
    s"""WITH RECURSIVE pairs AS (
       |${gramJaccardPairsSql(2, 0.5)}
       |),
       |edges AS (
       |  SELECT a AS id, b AS nb FROM pairs
       |  UNION ALL
       |  SELECT b AS id, a AS nb FROM pairs),
       |walk(id, lbl) AS (
       |  SELECT DISTINCT id, id FROM edges
       |  UNION
       |  SELECT e.id, w.lbl FROM edges e JOIN walk w ON w.id = e.nb),
       |comp AS (SELECT id, MIN(lbl) AS cluster_id FROM walk GROUP BY id)
       |SELECT id AS doc_id, cluster_id,
       |       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |       id = cluster_id AS is_keeper
       |FROM comp ORDER BY doc_id""".stripMargin

  /** Shared rule set: a doc is dropped if it is (a) a non-minimal
    * copy of an exact-duplicate text group, or (b) a non-keeper
    * member of a near-dup cluster (q102's labels, which cover the
    * ≥2-token docs exact dedup can miss nothing from — exact dups are
    * Jaccard-1 pairs — while exact dedup still catches 0/1-token
    * copies LSH never sees).
    */
  private def keptDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    val exactKeep = docs
      .withColumn("min_id",
        min(col("doc_id")).over(Window.partitionBy(col("text"))))
      .filter(col("doc_id") === col("min_id"))
      .drop("min_id", "text")
    val dropNear = clusterLabels(s, dir)
      .filter(col("id") =!= col("lbl"))
      .select(col("id").as("doc_id"))
    // the drop set is candidate-sized (near-dup rate, already
    // materialized as a leaf RDD) — broadcast it so the corpus side
    // of the anti-join never shuffles
    exactKeep.join(broadcast(dropNear), Seq("doc_id"), "left_anti")
  }

  // --------------------------------------------------------------- q111
  /** Deduplicated corpus materialization — what a pipeline actually
    * writes back out after q34/q35/q102 have reported. The corpus
    * shuffles once (exact-dup window on the content key; at 100 TB
    * group on xxhash64(content)); the near-dup drop set is
    * candidate-sized and anti-joins via broadcast.
    */
  private def q111(s: SparkSession, dir: String): DataFrame =
    keptDocs(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy("doc_id")

  private val dropCtes =
    s"""pairs AS (
       |${gramJaccardPairsSql(2, 0.5)}
       |),
       |edges AS (
       |  SELECT a AS id, b AS nb FROM pairs
       |  UNION ALL
       |  SELECT b AS id, a AS nb FROM pairs),
       |walk(id, lbl) AS (
       |  SELECT DISTINCT id, id FROM edges
       |  UNION
       |  SELECT e.id, w.lbl FROM edges e JOIN walk w ON w.id = e.nb),
       |comp AS (SELECT id, MIN(lbl) AS cluster_id FROM walk GROUP BY id),
       |drop_near AS (SELECT id AS doc_id FROM comp WHERE id <> cluster_id),
       |exact_keep AS (
       |  SELECT doc_id, source, n_chars FROM (
       |    SELECT doc_id, source, n_chars,
       |           MIN(doc_id) OVER (PARTITION BY text) AS min_id
       |    FROM documents)
       |  WHERE doc_id = min_id)""".stripMargin

  private val q111Sql =
    s"""WITH RECURSIVE $dropCtes
       |SELECT doc_id, source, n_chars FROM exact_keep
       |WHERE doc_id NOT IN (SELECT doc_id FROM drop_near)
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q112
  /** One-row dedup pipeline report: corpus size, exact-dup copies,
    * verified near-dup pairs, cluster count, final kept count — the
    * numbers an operator checks before blessing a corpus build. All
    * five inputs are already-aggregated intermediates (each one row or
    * candidate-sized), combined with literal-tag cross joins.
    */
  private def q112(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val nTexts = docs.agg(countDistinct(col("text")).as("n_distinct_texts"))
    val nPairs = nearDupPairs(s, dir)
      .agg(count(lit(1)).as("n_near_pairs"))
    val labels = clusterLabels(s, dir)
    val nClusters = labels.agg(countDistinct(col("lbl")).as("n_clusters"))
    val nKept = keptDocs(s, dir).agg(count(lit(1)).as("n_kept"))
    nDocs.crossJoin(nTexts).crossJoin(nPairs)
      .crossJoin(nClusters).crossJoin(nKept)
      .select(col("n_docs"), col("n_distinct_texts"), col("n_near_pairs"),
        col("n_clusters"), col("n_kept"))
  }

  private val q112Sql =
    s"""WITH RECURSIVE $dropCtes
       |SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
       |       (SELECT COUNT(DISTINCT text) FROM documents) AS n_distinct_texts,
       |       (SELECT COUNT(*) FROM pairs) AS n_near_pairs,
       |       (SELECT COUNT(DISTINCT cluster_id) FROM comp) AS n_clusters,
       |       (SELECT COUNT(*) FROM exact_keep
       |        WHERE doc_id NOT IN (SELECT doc_id FROM drop_near)) AS n_kept""".stripMargin

  // --------------------------------------------------------------- q137
  /** Incremental APPLY (r13, completing q136's daily-job story): the
    * kept rows for the increment shard alone — q111 restricted to
    * doc_id ≥ split, computed against the STANDING index (exact-key
    * probe + q136 pair probe + shard-internal CC), never re-pairing
    * the base corpus. See [[incrementalApplyWith]]. The
    * oracle is the full-rerun kept set restricted to the shard, so
    * the driver's gate hash-checks the monotone-append theorem (a
    * shard doc's keep/drop decision never needs base-vs-base CC)
    * directly.
    */
  private def q137(s: SparkSession, dir: String): DataFrame =
    incrementalApplyWith(
      incrementalIndex(s, dir), dir,
      // share q136's memoized pair table — a cold q137 used to re-run
      // the whole incremental pair pipeline (r13 bench stage lists)
      pairsOverride = Some(incrementalPairs(s, dir)))
      .orderBy("doc_id")

  private val q137Sql =
    s"""WITH RECURSIVE sp AS (SELECT MAX(doc_id) * 4 // 5 AS v FROM documents),
       |$dropCtes
       |SELECT doc_id, source, n_chars FROM exact_keep
       |WHERE doc_id NOT IN (SELECT doc_id FROM drop_near)
       |  AND doc_id >= (SELECT v FROM sp)
       |ORDER BY doc_id""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q34_dedup_exact", q34, Some(q34Sql)),
    Query("q35_dedup_minhash", q35, Some(gramJaccardSql(2, 0.5))),
    Query("q36_dedup_simhash", q36, Some(q36Sql)),
    Query("q37_ngram_jaccard", q37, Some(gramJaccardSql(3, 0.3))),
    Query("q38_dedup_embedding", q38, None),
    Query("q136_dedup_incremental", q136, Some(q136Sql)),
    Query("q70_decontaminate", q70, Some(q70Sql)),
    Query("q85_shared_spans", q85, Some(q85Sql)),
    Query("q102_dedup_cluster", q102, Some(q102Sql)),
    Query("q111_dedup_apply", q111, Some(q111Sql)),
    Query("q112_dedup_report", q112, Some(q112Sql)),
    Query("q137_dedup_incr_apply", q137, Some(q137Sql)))
}
