package graft.streaming

import graft.{Conf, Tables}
import graft.ScopedConf.withConf
import graft.queries.Query
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming re-expression of the reference's execution
  * model (SURVEY.md §2 q28–q29, q47, q57): schema'd stream source →
  * event-time windowed / stateful transform → sink.
  *
  * Reference: `/root/reference/window_aggregation.py` — Kafka JSON
  * source with a 15 s watermark, per-message trailing 10 s RANGE-window
  * sum per province, JSON sink. The Kafka connector jar isn't in this
  * image, so the demos run file-source → memory-sink; the transforms
  * are connector-agnostic (any streaming DataFrame in, DataFrame out).
  */
object StreamingQueries {

  /** Streaming read of the events parquet, normalized to a
    * TimestampType `ts` the same way as the batch loader
    * ([[graft.Tables.events]]): the stored type is probed from the
    * parquet footer (a metadata-only batch read) because the driver's
    * generator has shipped `ts` both as TIMESTAMP(NANOS) (pandas ns —
    * declared as its raw int64 from the footer, then truncated
    * µs-ward) and as plain TIMESTAMP(MICROS); a streaming source needs
    * its schema declared up front, so the declared type must match the
    * file, not an assumption.
    */
  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val batchRaw = Tables.read(s, s"$dir/events.parquet", nanosAsLong = true)
    val stored = batchRaw.schema("ts").dataType
    // Watermarks demand TIMESTAMP (local-tz): declare it for either
    // stored timestamp flavor — the file's µs payload is read as the
    // same instant (session tz is UTC everywhere in this engine, so
    // NTZ wall time ≡ UTC instant, matching how DuckDB reads the same
    // file for the oracle). The int64-nanos legacy layout reads raw
    // and truncates µs-ward.
    val declaredTs = stored match {
      case LongType => LongType
      case _        => TimestampType
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", declaredTs),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    val raw = s.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet") // file source needs a dir
      .parquet(dir)
    declaredTs match {
      case LongType =>
        // int64 layout: ns-vs-µs disambiguated by the same memoized
        // magnitude probe the batch loader uses (Tables.events), so
        // stream and batch read the identical instants.
        raw.withColumn("ts", timestamp_micros(expr(s"ts DIV ${
          Tables.int64TsDivisor(batchRaw, s"$dir/events.parquet")}")))
      case _ => raw
    }
  }

  /** The reference's source-decl surface: a JSON-lines stream (the
    * wire format of its Kafka topic) decoded against an explicit
    * schema with an event-time watermark — `create_table(schema=...,
    * watermark=...)` re-expressed (window_aggregation.py:33-52).
    */
  def jsonPaymentSource(s: SparkSession, lines: DataFrame,
      allowedDelay: String = "15 seconds",
      declareWatermark: Boolean = true): DataFrame = {
    val schema = StructType(Seq(
      StructField("createTime", TimestampType),
      StructField("orderId", LongType),
      StructField("payAmount", DoubleType),
      StructField("payPlatform", IntegerType),
      StructField("provinceId", IntegerType)))
    val decoded = lines
      .select(from_json(col("value").cast("string"), schema).as("m"))
      .select(col("m.*"))
      // malformed-record hygiene: an undecodable line (or one missing
      // its event time) yields nulls from PERMISSIVE from_json; drop
      // it here so downstream watermarks/windows never see a null
      // event time — the dead-letter branch of a production pipeline.
      .filter(col("createTime").isNotNull)
    // declareWatermark=false lets a downstream stateful transform own
    // the (single) watermark declaration on this event-time lineage
    // (KafkaPipeline.paymentRangeSum re-declares it on the renamed
    // column with the same 15 s delay).
    if (declareWatermark && decoded.isStreaming)
      decoded.withWatermark("createTime", allowedDelay)
    else decoded
  }

  /** JSON sink encoding (the reference's sink table format). */
  def toJsonSink(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col): _*)).as("value"))

  /** Snapshot-sink selector. "memory" (default) is exact and cheap at
    * gate scale (sf0.01/sf0.1) but its snapshot is a DRIVER-SIDE
    * O(output) collect — the one surface that bounded how far the
    * stream gates could scale (the pre-r9 ×32 OOM went through it).
    * "file" is the distributed path: Append streams write a parquet
    * FILE sink (the sink's transaction log gives exactly-once file
    * commits), Complete streams snapshot via a per-batch
    * `foreachBatch` overwrite (complete output IS the full state each
    * batch, so the cluster-side write is exactly what the sink
    * semantics emit), and the snapshot is a LAZY distributed
    * read-back — nothing output-sized ever touches the driver.
    * Select with `Conf.StreamSinkVar` (Bench/Verify at ×32+), or
    * programmatically via [[sinkModeOverride]] for same-JVM harnesses
    * (ScaleStress's stream sections).
    */
  @volatile private[graft] var sinkModeOverride: Option[String] = None
  private def sinkMode: String =
    sinkModeOverride.fold(Conf.streamSink)(Conf.parseStreamSink)

  /** File-sink scratch dirs created by [[runToSnapshot]] (output +
    * checkpoint, output-sized): tracked so harness callers can reclaim
    * them once the snapshot is consumed ([[cleanupFileSinkDirs]]) and
    * a JVM shutdown hook sweeps whatever remains — un-reclaimed, every
    * file-mode stream query leaked its output twice over (sink +
    * checkpoint), the same scratch-exhaustion class the ×512 probe
    * fixed for RDD blocks (ADVICE r10).
    */
  private val fileSinkDirs =
    java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
  private lazy val exitSweepInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteTrackedSinkDirs(), "graft-stream-sink-sweep"))

  private def deleteTrackedSinkDirs(): Unit = {
    import scala.jdk.CollectionConverters._
    val dirs = fileSinkDirs.synchronized {
      val d = fileSinkDirs.asScala.toList; fileSinkDirs.clear(); d
    }
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    dirs.foreach(d => rm(new java.io.File(d)))
  }

  /** Reclaim every tracked file-sink scratch dir. Callers must have
    * CONSUMED their snapshots first — a file-mode snapshot is a LAZY
    * scan of the sink dir (count it, write it, or compare it before
    * calling this). Memory-mode runs track nothing; calling is a no-op.
    *
    * CONTRACT — GLOBAL delete (ADVICE r11): this reclaims the sink
    * dirs of EVERY file-mode run since the last call, not just the
    * caller's. The tracked list is JVM-global and the harness callers
    * (ScaleStress stream modes, parity) are strictly sequential —
    * each consumes its one snapshot, then sweeps. A future caller
    * that interleaves two live lazy snapshots must either consume
    * both before sweeping or switch this to per-run tracking (have
    * runToSnapshot return its fileBase); until one exists, the global
    * sweep is the simpler correct contract.
    */
  private[graft] def cleanupFileSinkDirs(): Unit = deleteTrackedSinkDirs()

  /** Start `df` into the selected snapshot sink, drain the source,
    * snapshot the sink (memory-table collect or distributed parquet
    * read-back — see [[sinkMode]]), and tear everything down (shared
    * session hygiene).
    */
  /** State-operator row counts (operatorName → numRowsTotal, from the
    * final StreamingQueryProgress), ACCUMULATED across every drain
    * since the last [[resetStateRows]] — published for harness
    * assertions (ScaleStress's ×R state-bound gate, r12). A reader
    * resets BEFORE running a query and reads after it returns; a
    * query that drains several streams (none today) then sums all of
    * them instead of only the last drain's (ADVICE r12 — the
    * overwrite-per-drain slot under-measured multi-drain state).
    * Like [[sinkModeOverride]], this is part of the sequential-
    * harness contract: readers run queries one at a time.
    */
  @volatile private[graft] var lastStateRowsByOp: Seq[(String, Long)] =
    Seq.empty

  /** Shuffle-partition count the LAST drained stateful query ran with
    * (0 for stateless/no-progress queries) — published so the scale
    * harness and the partition-cap spec can assert the cap actually
    * reached the executed stream (the conf is fixed into
    * the checkpoint at start; the progress is the ground truth).
    */
  @volatile private[graft] var lastNumShufflePartitions: Long = 0L

  /** Clear the accumulated state-row capture (call before the query
    * under measurement — a stateless query must not inherit its
    * predecessor's rows).
    */
  private[graft] def resetStateRows(): Unit = lastStateRowsByOp = Seq.empty

  /** Estimated rows micro-batch 1 will ingest from `dir`'s events
    * table — the SIXTH envelope class's trigger (r14, found by the
    * ×1024 streams probe): a replay harness feeds the whole scaled
    * corpus as ONE file ⇒ one micro-batch ⇒ the watermark never
    * advances INSIDE it, so a stream-stream join / watermark-held
    * operator buffers the ENTIRE input in its state store during
    * batch 1 — corpus-sized peak state even though the ACROSS-batch
    * law says watermark-bounded. Measured: 51.2 M rows (×512) drained
    * in-heap on the 8 g JVM; 102.4 M (×1024) GC-thrashed until the
    * executor heartbeat expired (exit 56) with ZERO OOM thrown.
    *
    * Implementation (ADVICE r14): the count comes from the parquet
    * FOOTERS directly (row-group counts per file via [[Tables.footer]],
    * driver-side, no Spark job — the old `read.parquet(..).count()`
    * scheduled a real scan job at every q57/q98/q125/q129 start) and
    * is cached per dir (the harnesses re-query the same dir many
    * times). A probe failure is LOGGED and uncached — the fallback
    * (0 ⇒ in-heap provider even for a corpus-sized batch) is exactly
    * the GC-freeze regime the clause exists to prevent, so it must
    * never be silent.
    */
  private val tableRowCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private[graft] def tableRowCount(s: SparkSession, dir: String,
      table: String): Long = {
    val key = s"$dir/$table.parquet"
    Option(tableRowCountCache.get(key)).map(_.longValue).getOrElse {
      try {
        val root = new java.io.File(key)
        // Recursive: a hive-partitioned or otherwise nested layout
        // (Sources.writePartitioned) keeps its part files in
        // subdirectories — a top-level-only listing would see zero
        // files and silently CACHE n=0, which is exactly the silent
        // in-heap fallback the logged error path below exists to
        // prevent (ADVICE r15). An empty result under a real
        // directory is therefore a probe FAILURE, not a count.
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty).toSeq
              .filterNot(_.getName.startsWith("_")).flatMap(walk)
          else if (f.isFile && f.getName.endsWith(".parquet")) Seq(f)
          else Seq.empty
        val files: Seq[java.io.File] =
          if (root.isDirectory) {
            val fs = walk(root)
            if (fs.isEmpty) throw new java.io.FileNotFoundException(
              s"no .parquet files under directory ${root.getPath}")
            fs
          }
          else if (root.isFile) Seq(root)
          else throw new java.io.FileNotFoundException(root.getPath)
        import scala.jdk.CollectionConverters._
        val conf = s.sparkContext.hadoopConfiguration
        val n = files.map { f =>
          Tables.footer(new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
            .getBlocks.asScala.map(_.getRowCount).sum
        }.sum
        tableRowCountCache.put(key, n)
        n
      } catch {
        case e: Exception =>
          System.err.println("[graft] row-count footer probe failed " +
            s"for $key (${e.getClass.getSimpleName}: ${e.getMessage}) - " +
            "intra-batch ingest unknown; the IN-HEAP state provider " +
            "will be kept regardless of batch size for this query")
          0L
      }
    }
  }

  private[graft] def eventsRowCount(s: SparkSession, dir: String): Long =
    tableRowCount(s, dir, "events")

  /** In-heap intra-batch ingest ceiling (rows) before the state store
    * must spill: 6e7 sits between the measured 51.2 M survive and
    * 102.4 M die points on the default 8 g heap. A real Kafka feed
    * (many small micro-batches, the watermark advancing between them)
    * never approaches it.
    */
  private val HeapIngestMaxRows = 60000000L

  /** The stream's shuffle-partition count (state store instances):
    * the fixed gate cap, never wider than the session. A wider,
    * ingest-proportional cap was measured FLAT then WORSE on one box
    * (r15, ×1024 q138: 4p 1,737.7 s, 16p 1,678.2 s, 32p 2,080.7 s —
    * the stateful stage is state-store-IO-bound on a single disk, not
    * core-bound). Pure — spec'd directly.
    */
  private[graft] def streamPartitionCap(prev: Int): Int = math.min(4, prev)

  /** Checkpoint file manager for a bounded drain whose checkpoint
    * lives at `ckpt`: Spark's FileSystem-based manager when the path
    * resolves to the local filesystem, else None (keep Spark's
    * default). Spark's default renames through `FileContext`, which on
    * the local filesystem calls `getFileLinkStatus` on every rename —
    * without Hadoop's native library that forks a `readlink` process
    * per offset, commit and state-store file. The FileSystem-based
    * manager renames with `File.renameTo`, atomic on POSIX; Spark
    * still wraps it in its checksum manager, and the local filesystem
    * still writes `.crc` files. Resolves the filesystem CLASS from the
    * scheme (or the default filesystem's), never connecting to it.
    */
  private[graft] def checkpointFileManager(ckpt: String,
      conf: org.apache.hadoop.conf.Configuration): Option[String] = {
    import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
    val scheme = Option(new Path(ckpt).toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    val local = scala.util.Try(FileSystem.getFileSystemClass(scheme, conf))
      .toOption.exists(classOf[LocalFileSystem].isAssignableFrom)
    if (local) Some(classOf[org.apache.spark.sql.execution.streaming.
      checkpointing.FileSystemBasedCheckpointFileManager].getName)
    else None
  }

  private def runToSnapshot(s: SparkSession, df: DataFrame, prefix: String,
      mode: OutputMode, corpusLinearState: Boolean = false,
      ingestRows: Long = 0L): DataFrame = {
    val useFile = sinkMode == "file"
    val name = s"${prefix}_${System.nanoTime()}"
    val fileBase = s"target/stream_sink/$name"
    val filePath = s"$fileBase/out"
    if (useFile) { exitSweepInstalled; fileSinkDirs.add(fileBase) }
    // Stateful operators allocate one state store per shuffle
    // partition per operator; for these bounded demo streams the
    // per-store setup/commit overhead dominates at 32 partitions, so
    // cap the stream's partitioning (the conf is fixed into the
    // query's checkpoint at start; restored for batch queries after).
    // The cap was re-measured at ×8 (800k events, r6): an adaptive
    // 26-partition variant LOST to the fixed cap — 59.8-60.0 s vs
    // 52.2-57.1 s over the 8 stream demos, two runs each: the drains
    // were commit-bound, not stateful-CPU-bound, and every state store
    // adds its own commit. With local checkpoints on the FileSystem
    // manager (checkpointFileManager) a commit no longer forks, and
    // state-store commits cost ~9x less (perfbench relational
    // `streaming.state_commit_ms` 352 -> 40 ms, 4 cores); fewer stores
    // still mean fewer commits, so 4 stands (see streamPartitionCap).
    // Stage attribution (cf. the dedup/loop families): the stream
    // demos are the bench's last opaque walls. `<q>_start` is plan +
    // source listing + state-store setup, `<q>_drain_bN` the actual
    // micro-batch drain (N = batches run — a per-batch fixed cost
    // shows as the batch count next to the wall), `<q>_snap` the sink
    // snapshot + state-store unload.
    // State-store provider: disk-backed RocksDB iff the query's state
    // is CORPUS-LINEAR and the run is in the file-sink (scale) regime
    // (r13, found by the ×512 distinct streams probe): the default
    // HDFS-backed provider keeps every partition's state map IN-HEAP —
    // q75's ~49 M merged session rows (95.5k × 512, exactly the linear
    // bound) killed the 8 g JVM mid-drain, the fourth non-spillable
    // in-memory class after the ×128/×512 build-side OOMs. The split
    // is by STATE GROWTH LAW, not blanket: dedup keys (q47), session
    // windows (q75) and LSH buckets (q138) grow with the corpus and
    // must spill; watermark-bounded join buffers and fixed-span window
    // aggs stay ~R-independent or rate×delay-bounded, and the same
    // probe measured blanket RocksDB regressing them 4× (q125
    // 92→368 s, 335 k state rows) for zero safety gain. The conf is
    // fixed into the query's fresh checkpoint at start, restored
    // after; gate-scale memory-sink runs keep the in-heap provider's
    // lower per-query setup cost.
    // r14 second trigger (the ×1024 streams probe's sixth envelope
    // class — see eventsRowCount): even a watermark-bounded query
    // must spill when ONE micro-batch ingests more rows than the
    // heap can buffer as intra-batch state.
    val needRocks = corpusLinearState ||
      (ingestRows > HeapIngestMaxRows)
    // Changelog checkpointing rides along with the RocksDB pin (r16):
    // the ×2048 multi-batch probe measured default full-snapshot
    // checkpointing re-uploading every compaction-rewritten SST each
    // commit (3.99 → 5.36 → 10.96 GB per commit for 12 GB of live
    // state — 1.7× amplification after three batches) until the
    // checkpoint dir ENOSPC'd the run. With changelogs a commit ships
    // only the batch's own puts; snapshots move to the async
    // maintenance thread. Exactly-once semantics are unchanged (the
    // changelog replays over the last snapshot on recovery), so this
    // applies wherever corpus-linear state already forced RocksDB.
    val rocks = if (useFile && needRocks) Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled" -> "true") else Nil
    // Checkpoint file manager: see checkpointFileManager. Memory-sink
    // drains checkpoint where Spark puts an unnamed query's checkpoint
    // (the session's checkpoint root, else a local temp dir, whose
    // scheme-less path resolves like `.`). A manager the session
    // already names is kept. Like the partition cap, the
    // class is fixed into the query when it starts (the stream clones
    // the session), so the session conf is restored right after.
    val ckptKey = "spark.sql.streaming.checkpointFileManagerClass"
    val ckptManager =
      if (s.conf.getOption(ckptKey).isDefined) None
      else checkpointFileManager(
        if (useFile) s"$fileBase/ckpt"
        else s.conf.getOption("spark.sql.streaming.checkpointLocation")
          .getOrElse("."),
        s.sessionState.newHadoopConf())
    // The drain starts on the CALLER's session inside one scoped
    // window, not on a clone carrying these confs: a stream started
    // from another session reports to that session's listeners (the
    // caller's StreamingQueryListener saw 0 of 3 events), registers
    // its memory-sink view in that session's catalog, and leaves one
    // more listener on the SparkContext bus per drain.
    val scoped = Seq("spark.sql.shuffle.partitions" -> streamPartitionCap(
      s.conf.get("spark.sql.shuffle.partitions").toInt).toString) ++
      ckptManager.map(ckptKey -> _) ++ rocks
    val q = graft.RoundStats.timed(s"${prefix}_start") {
      withConf(s, scoped: _*) {
        if (!useFile)
          df.writeStream.outputMode(mode).format("memory")
            .queryName(name).start()
        else if (mode == OutputMode.Append())
          df.writeStream.outputMode(mode).format("parquet")
            .option("path", filePath)
            .option("checkpointLocation", s"$fileBase/ckpt").start()
        else if (mode == OutputMode.Complete())
          // the parquet file sink is append-only: Complete-mode demos
          // snapshot through a per-batch full-state overwrite instead
          // (complete output IS the full state each batch, so the last
          // overwrite is the whole result)
          df.writeStream.outputMode(mode)
            .foreachBatch { (b: DataFrame, _: Long) =>
              b.write.mode("overwrite").parquet(filePath)
            }
            .option("checkpointLocation", s"$fileBase/ckpt").start()
        else
          // Update (or any future mode) emits per-batch DELTAS, not
          // full state: the overwrite branch above would silently
          // snapshot only the LAST batch's changed rows. No stream
          // demo uses Update today — fail loudly rather than wrong.
          throw new IllegalArgumentException(
            s"file snapshot sink supports Append/Complete, not $mode " +
              "(Update emits deltas; a full-state snapshot would be wrong)")
      }
    }
    try {
      val c0 = cpuNow()
      val t0 = System.nanoTime()
      q.processAllAvailable()
      lastStateRowsByOp = lastStateRowsByOp ++ Option(q.lastProgress).toSeq
        .flatMap(_.stateOperators.toSeq)
        .map(so => (so.operatorName, so.numRowsTotal))
      lastNumShufflePartitions = Option(q.lastProgress).toSeq
        .flatMap(_.stateOperators.toSeq)
        .map(_.numShufflePartitions).maxOption.getOrElse(0L)
      val nb = Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L)
      graft.RoundStats.record(s"${prefix}_drain_b$nb",
        (System.nanoTime() - t0) / 1e9,
        cpuNow().map(c1 => c0.map(c => (c1 - c) / 1e9).getOrElse(-1.0))
          .getOrElse(-1.0))
    } finally {
      q.stop()
      q.awaitTermination()
    }
    graft.RoundStats.timed(s"${prefix}_snap") {
      if (!useFile) materializeAndDrop(s, name)
      else {
        // same state-store hygiene as the memory path (see
        // materializeAndDrop); the snapshot itself is a lazy
        // distributed scan of what the sink committed
        org.apache.spark.sql.GraftSqlBridge.unloadStateStores()
        if (new java.io.File(filePath).exists())
          s.read.schema(df.schema).parquet(filePath)
        else // zero batches / all rows withheld: sink dir never created
          s.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), df.schema)
      }
    }
  }

  private def cpuNow(): Option[Long] =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        Some(os.getProcessCpuTime)
      case _ => None
    }

  /** Snapshot a memory-sink table into a local DataFrame and drop the
    * temp view, so finished streaming queries leave no session state
    * behind (Verify/Bench run many queries in one session).
    */
  private def materializeAndDrop(s: SparkSession, name: String): DataFrame = {
    val t = s.table(name)
    val out = s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(t.collect(): _*)),
      t.schema)
    s.catalog.dropTempView(name)
    // Evict cached state-store providers (q29's keeps the whole event
    // buffer of the last batch in memory): a finished stream must not
    // tax later batch queries sharing the session/heap.
    org.apache.spark.sql.GraftSqlBridge.unloadStateStores()
    out
  }

  // ---------------------------------------------------------------- q28
  /** Tumbling event-time window aggregation executed as a REAL
    * streaming query (file source → complete-mode memory sink), then
    * returned as a DataFrame. Deterministic: `processAllAvailable`
    * drains the source, complete mode emits full state. Oracle = the
    * batch q27 SQL — stream/batch parity is the semantic claim.
    */
  def q28(s: SparkSession, dir: String): DataFrame = {
    val agged = eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total"))
    runToSnapshot(s, agged, "q28_sink", OutputMode.Complete)
      .select(col("win.start").as("win_start"), col("event_type"),
        col("n"), col("total"))
      .orderBy("win_start", "event_type")
  }

  // ---------------------------------------------------------------- q29
  /** The reference flagship as a STATEFUL stream: per event, the
    * trailing 10 s per-key sum (window_aggregation.py:75-82), via
    * `flatMapGroupsWithState` with a per-key event buffer.
    *
    * State design for scale (watermark-driven lifecycle, mirroring the
    * reference's 15 s allowed delay, window_aggregation.py:48-50):
    *  - the buffer holds only events within (window span + allowed
    *    delay) behind the newest processed event of the key — so an
    *    in-delay late event still finds every batch-mate its trailing
    *    window needs. State is O(keys × window-rate), independent of
    *    stream length.
    *  - idle keys expire via `EventTimeTimeout`: once the watermark
    *    passes the key's horizon (newest event + window + delay),
    *    nothing the buffer holds can affect any admissible future
    *    event, and the key's state is removed — no idle-key leak.
    *  - emission is immediate (per incoming event, reference
    *    semantics). A late event emits its own correct window and
    *    retro-extends earlier events only within the same batch;
    *    cross-batch parity with the batch RANGE window therefore holds
    *    when batches arrive in event-time order (late events within
    *    the delay included) — asserted across ≥3 real micro-batches in
    *    StreamingSpec.
    */
  val RangeWindowMicros = 10000000L  // 10 s, the reference interval
  val AllowedDelayMicros = 15000000L // 15 s, the reference watermark

  /** Timestamp → epoch µs — the payload both range transforms and
    * their oracles agree on (one definition; a drift between the two
    * transforms would silently desynchronize them from the oracle).
    */
  private def micros(t: java.sql.Timestamp): Long = {
    val i = t.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** Exact-decimal cent rounding matching
    * `CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE)` on both engines
    * of the oracle pair — shared by both emission modes.
    */
  private def d2(v: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(2, java.math.RoundingMode.HALF_UP)

  /** Source-agnostic core transform: any events-shaped stream
    * (event_id, ts timestamp, user_id, value) → per-event trailing
    * 10 s per-key sum.
    */
  def rangeStateTransform(s: SparkSession, events: DataFrame): DataFrame = {
    import s.implicits._

    // Keep `ts` a timestamp column through to the stateful operator:
    // the EventTimeTimeout check needs the watermarked event-time
    // attribute present in the child plan.
    val typed = events
      .withWatermark("ts", "15 seconds")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .as[(Long, Long, java.sql.Timestamp, Double)]
    typed
      .groupByKey(_._2)
      .flatMapGroupsWithState[List[(Long, Long, Double)], (Long, Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, rows: Iterator[(Long, Long, java.sql.Timestamp, Double)],
         state: GroupState[List[(Long, Long, Double)]]) =>
          if (state.hasTimedOut) {
            // Watermark passed newest-event + window + delay: no
            // admissible future event can reach into this buffer.
            state.remove()
            Iterator.empty
          } else {
            val buffered = state.getOption.getOrElse(Nil)
            val incoming = rows.map(r => (r._1, micros(r._3), r._4)).toList
            val all = (buffered ++ incoming).sortBy(e => (e._2, e._1))
            // Emit one result per *incoming* event: sum over all events
            // of this key with ts in [ts_e - 10 s, ts_e]. A per-event
            // rescan of the buffer is O(m × occupancy) — quadratic when
            // one micro-batch delivers a key's whole history (the
            // drain-a-backlog shape at scale) — so instead: exact-
            // decimal prefix sums over the sorted buffer + two monotone
            // pointers. Prefix-difference of exact decimal sums equals
            // the direct sum, so results are bit-identical to the
            // rescan form.
            val arr = all.toArray
            val n = arr.length
            val prefix = new Array[java.math.BigDecimal](n + 1)
            prefix(0) = java.math.BigDecimal.ZERO
            var i = 0
            while (i < n) { prefix(i + 1) = prefix(i).add(d2(arr(i)._3)); i += 1 }
            val newIds = incoming.map(_._1).toSet
            var lo = 0 // first index with ts >= ts_e - 10 s
            var hi = 0 // first index with ts > ts_e
            val results = Iterator.range(0, n).flatMap { j =>
              val (id, ts, _) = arr(j)
              if (!newIds.contains(id)) None
              else {
                while (hi < n && arr(hi)._2 <= ts) hi += 1
                while (arr(lo)._2 < ts - RangeWindowMicros) lo += 1
                Some((id, key, ts, prefix(hi).subtract(prefix(lo)).doubleValue))
              }
            }.toList
            // Evict events no in-delay late event could still window
            // over; expire the whole key once the watermark passes the
            // same horizon.
            val newest = if (all.nonEmpty) all.map(_._2).max else 0L
            val horizon = newest - RangeWindowMicros - AllowedDelayMicros
            state.update(all.filter(_._2 >= horizon))
            state.setTimeoutTimestamp(
              (newest + RangeWindowMicros + AllowedDelayMicros) / 1000L + 1L)
            results.iterator
          }
      }
      .toDF("event_id", "province_id", "ts_us", "pay_amount")
  }

  /** Watermark-HELD emission variant of [[rangeStateTransform]]: an
    * event's window sum is emitted only once the watermark passes its
    * event time — at which point no admissible arrival can land at or
    * before it, so the trailing window is provably complete. This is
    * the reference's effective emission order (Flink's OVER window
    * emits on watermark advance, window_aggregation.py:48-50,75-82):
    * batch-exact for ANY in-delay arrival order, where the immediate
    * mode deviates on out-of-order batches (it emits an event's sum
    * before a later batch delivers an in-delay mate at-or-before it —
    * documented deviation, spec'd in StreamingSpec).
    *
    * The price of exactness: events within (delay) of the stream's
    * maximum event time stay withheld at drain (the watermark never
    * passes them) — the correct streaming answer, but not a full dump,
    * which is why the DEMO query (q29) keeps immediate emission and
    * this mode ships as the semantics-exact alternative.
    *
    * State: one buffer per key holding (id, ts, value, emitted).
    * Pending rows (ts > watermark) are always retained and schedule an
    * EventTimeTimeout at their event time so they flush as soon as the
    * watermark passes, data or not. Emitted rows are retained only
    * while a future ADMISSIBLE arrival could still window over them:
    * the operator filters input below the watermark, so any future
    * event has ts ≥ wm and its trailing window reaches at most down to
    * wm − window — rows behind that are dead. Because the bound
    * advances with the GLOBAL watermark (not the key's newest event),
    * an idle key drains: the last timer fires once the watermark
    * passes newest + window, the filter empties the buffer, and
    * `state.remove()` runs — no per-key residue and no perpetually
    * re-arming timer (spec-asserted: state rows return to zero).
    * Per-batch work is linear: exact-decimal prefix sums + two monotone
    * pointers, as in the immediate mode.
    */
  def rangeStateTransformHeld(s: SparkSession, events: DataFrame): DataFrame = {
    import s.implicits._
    val typed = events
      .withWatermark("ts", "15 seconds")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .as[(Long, Long, java.sql.Timestamp, Double)]
    typed
      .groupByKey(_._2)
      .flatMapGroupsWithState[List[(Long, Long, Double, Boolean)],
        (Long, Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, rows: Iterator[(Long, Long, java.sql.Timestamp, Double)],
         state: GroupState[List[(Long, Long, Double, Boolean)]]) =>
          val wm = state.getCurrentWatermarkMs() * 1000L
          val buffered = state.getOption.getOrElse(Nil)
          val incoming = rows.map(r => (r._1, micros(r._3), r._4, false)).toList
          val all = (buffered ++ incoming).sortBy(e => (e._2, e._1))
          val arr = all.toArray
          val n = arr.length
          if (n == 0) { state.remove(); Iterator.empty }
          else {
            val prefix = new Array[java.math.BigDecimal](n + 1)
            prefix(0) = java.math.BigDecimal.ZERO
            var i = 0
            while (i < n) {
              prefix(i + 1) = prefix(i).add(d2(arr(i)._3)); i += 1
            }
            var lo = 0
            var hi = 0
            val results = scala.collection.mutable.ListBuffer
              .empty[(Long, Long, Long, Double)]
            val next = new Array[(Long, Long, Double, Boolean)](n)
            var j = 0
            while (j < n) {
              val (id, ts, v, emitted) = arr(j)
              if (!emitted && ts <= wm) {
                // watermark passed: the trailing window is complete
                while (hi < n && arr(hi)._2 <= ts) hi += 1
                while (arr(lo)._2 < ts - RangeWindowMicros) lo += 1
                results += ((id, key, ts,
                  prefix(hi).subtract(prefix(lo)).doubleValue))
                next(j) = (id, ts, v, true)
              } else next(j) = (id, ts, v, emitted)
              j += 1
            }
            // retain: anything still pending, plus emitted rows a
            // future ADMISSIBLE event's window could still reach. The
            // operator drops input below the watermark, so a future
            // event has ts ≥ wm and reaches at most down to
            // wm − window: that bound advances with the GLOBAL
            // watermark, so emitted rows age out even when the key
            // never sees data again (a key-local newest-based horizon
            // would pin the newest row, and the state, forever).
            val horizon = wm - RangeWindowMicros
            val keep = next.filter(e => !e._4 || e._2 >= horizon).toList
            val pending = keep.filter(!_._4)
            // Spark rejects a timeout at-or-before the CURRENT
            // watermark — a key whose newest event sits far behind the
            // global maximum (typical when one batch carries the whole
            // corpus) would otherwise compute exactly that. Clamping
            // to wm+1 keeps the flush immediate-next-batch for such
            // stragglers, which is also the earliest legal fire time.
            val wmMs = state.getCurrentWatermarkMs()
            def after(ms: Long): Long = math.max(ms, wmMs + 1L)
            if (pending.nonEmpty) {
              state.update(keep)
              // Flush timer: ONE MS BELOW the oldest pending event's
              // millisecond. Event-time timeouts fire only when the
              // timer sits strictly BELOW the watermark, and the
              // emission predicate (ts <= wm, the oracle's own
              // cutoff) is satisfiable at wm == ts — arming at
              // ts_ms + 1 parked the timer exactly ON the final
              // watermark for an event AT it (ts = max - delay), so
              // the key was never invoked and the event silently
              // withheld (HeldBoundarySpec). At ts_ms - 1 the timer
              // fires as soon as the watermark reaches the event's
              // millisecond; a fire that lands before a sub-ms event
              // is admissible emits nothing and re-arms here (the
              // after() clamp keeps re-arms legal and advancing).
              state.setTimeoutTimestamp(
                after(pending.map(_._2).min / 1000L - 1L))
            } else if (keep.nonEmpty) {
              state.update(keep)
              // all emitted: the timer only garbage-collects — fire
              // when the newest retained row falls behind wm − window,
              // at which point the filter empties and the key is
              // removed (the timer is NOT re-armed before then, so no
              // per-watermark-advance re-processing of idle keys)
              state.setTimeoutTimestamp(after(
                (keep.map(_._2).max + RangeWindowMicros) / 1000L + 1L))
            } else state.remove()
            results.iterator
          }
      }
      .toDF("event_id", "province_id", "ts_us", "pay_amount")
  }

  def q29(s: SparkSession, dir: String): DataFrame = {
    val out = rangeStateTransform(s, eventsStream(s, dir))
    runToSnapshot(s, out, "q29_sink", OutputMode.Append)
      .select(col("event_id"), col("province_id"),
        timestamp_micros(col("ts_us")).as("ts"), col("pay_amount"))
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- q47
  /** Streaming deduplication: `dropDuplicates` over the key columns —
    * the streaming form of exact dedup (state = one bit per key,
    * bounded by a watermark in production). Oracle: batch DISTINCT,
    * which a drained stream must equal.
    */
  def q47(s: SparkSession, dir: String): DataFrame = {
    val deduped = eventsStream(s, dir)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    // distinct-key state grows with the corpus → disk-backed at scale
    runToSnapshot(s, deduped, "q47_sink", OutputMode.Append,
      corpusLinearState = true)
      .orderBy("user_id", "event_type")
  }

  // ---------------------------------------------------------------- q57
  /** Stream-stream inner join: clicks joined to the purchases that
    * follow them within 24 h for the same user — two independently
    * watermarked streams, equi-key plus event-time range condition.
    * The range bound + watermarks let the engine expire join state
    * (each side retains ~range + delay of events, not the stream);
    * an unbounded-state stream-stream join would be a non-starter at
    * scale. Oracle: the equivalent batch self-join.
    */
  /** Shared scaffolding of the stream-stream join family (q57 inner,
    * q98 left, q125 full): the watermarked click and purchase streams
    * and the time-bounded join predicate are ONE definition — the
    * watermark delay and the 24 h attribution window are semantic
    * contracts shared with the batch oracles, and the three queries
    * differ only in join type and projection.
    */
  private def clickPurchaseJoin(s: SparkSession, dir: String,
      joinType: String): DataFrame = {
    val clicks = eventsStream(s, dir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "15 seconds")
    val purchases = eventsStream(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "15 seconds")
    clicks.join(purchases,
      expr("""user_id = p_user_id AND
              purchase_ts >= click_ts AND
              purchase_ts <= click_ts + interval 24 hours"""),
      joinType)
  }

  def q57(s: SparkSession, dir: String): DataFrame = {
    val joined = clickPurchaseJoin(s, dir, "inner")
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"))
    runToSnapshot(s, joined, "q57_sink", OutputMode.Append,
      ingestRows = eventsRowCount(s, dir))
      .orderBy("click_id", "purchase_id")
  }

  // ---------------------------------------------------------------- q98
  /** Stream-stream LEFT OUTER join — q57's shape with null emission for
    * clicks that never see a purchase. The engine can only emit an
    * unmatched left row once the watermark proves no match can still
    * arrive: a click's join window is [click_ts, click_ts + 24 h], so
    * its null row flushes when the global watermark (min over both
    * sources, minus the 15 s delay) passes click_ts + 24 h. Clicks
    * whose window is still open at drain are withheld — correct
    * streaming semantics, NOT missing data — so the batch oracle
    * applies the same final-watermark cutoff to its unmatched rows.
    * State stays bounded exactly as in the inner join: each side
    * retains ~(range + delay) of events.
    */
  def q98(s: SparkSession, dir: String): DataFrame = {
    val joined = clickPurchaseJoin(s, dir, "left_outer")
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"))
    runToSnapshot(s, joined, "q98_sink", OutputMode.Append,
      ingestRows = eventsRowCount(s, dir))
      .orderBy("click_id", "purchase_id")
  }

  // --------------------------------------------------------------- q125
  /** Stream-stream FULL OUTER join — completes the watermarked
    * stream-join family (q57 inner, q98 left). Null rows flush from
    * BOTH sides on watermark proof: an unmatched click when the
    * watermark passes click_ts + 24 h (no later purchase can match),
    * an unmatched purchase when it passes purchase_ts (a matching
    * click would have click_ts ≤ purchase_ts, and events at-or-before
    * the watermark can no longer arrive). Rows whose window is still
    * open at drain are withheld — correct streaming semantics — so
    * the batch oracle applies the same per-side watermark cutoffs.
    * State bounds are the inner join's: each side ~(range + delay).
    */
  def q125(s: SparkSession, dir: String): DataFrame = {
    val joined = clickPurchaseJoin(s, dir, "full_outer")
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        col("p_user_id"), col("click_ts"), col("purchase_ts"))
    // click_id IS null here (unmatched purchases) — pin null ordering
    // explicitly; Spark defaults NULLS FIRST, DuckDB NULLS LAST.
    runToSnapshot(s, joined, "q125_sink", OutputMode.Append,
      ingestRows = eventsRowCount(s, dir))
      .orderBy(col("click_id").asc_nulls_last,
        col("purchase_id").asc_nulls_last)
  }

  // --------------------------------------------------------------- q108
  /** Stream-static join: the streaming enrichment pattern — a purchase
    * stream joined per micro-batch to a STATIC dimension table
    * (customer → nation). Stateless: the static side is re-planned
    * into each micro-batch as an ordinary broadcast hash join, so no
    * join state accumulates at all (unlike q57/q98's stream-stream
    * state) and the stream side never shuffles. This is the shape for
    * enriching a 100 TB/day stream against reference data.
    */
  def q108(s: SparkSession, dir: String): DataFrame = {
    val purchases = eventsStream(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"))
    val cust = broadcast(Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey")))
    val joined = purchases
      .join(cust, purchases("user_id") === cust("c_custkey"))
      .select(col("event_id"), col("user_id"), col("c_nationkey"),
        col("value"))
    runToSnapshot(s, joined, "q108_sink", OutputMode.Append)
      .orderBy("event_id")
  }

  // --------------------------------------------------------------- q132
  /** Stream TEMPORAL join (Flink's temporal-table join re-expressed):
    * each streamed purchase is enriched with the user's latest click
    * at-or-before ITS event time — the as-of join's streaming leg.
    * Spark-first design: instead of keeping the dimension's history in
    * managed join state (Flink's formulation), the static side
    * collapses once per micro-batch into one sorted time-array per
    * key, broadcasts, and the at-or-before lookup is a pure
    * `array_max(filter(...))` projection — a STATELESS plan (no
    * watermark, no state store; append mode), so nothing accumulates
    * across batches and the stream side never shuffles. Scale: state
    * cost is zero; the broadcast is bounded by versions-per-key ×
    * keys (the common dimension shape); a dimension too big to
    * broadcast downgrades to the same HOF over a shuffled equi-join.
    * Oracle: q124's batch SQL — DuckDB's native ASOF over the drained
    * stream must agree row-for-row.
    */
  /** The reusable transform behind q132: enrich `stream` with the
    * latest `history` time at-or-before each row's `streamTime`, per
    * `key`. Works on a streaming OR batch left side (the right side
    * must be batch — it is collapsed and broadcast). Sorted array ⇒
    * latest at-or-before = `array_max` of the filtered prefix;
    * empty/missing history ⇒ null (never throws, unlike `element_at`
    * under ANSI).
    */
  def temporalEnrich(stream: DataFrame, history: DataFrame, key: String,
      streamTime: String, histTime: String, outCol: String): DataFrame = {
    val hist = history.groupBy(key)
      .agg(sort_array(collect_list(col(histTime))).as("__hist"))
    stream.join(broadcast(hist), Seq(key), "left")
      .withColumn(outCol,
        array_max(filter(col("__hist"), c => c <= col(streamTime))))
      .drop("__hist")
  }

  def q132(s: SparkSession, dir: String): DataFrame = {
    val clicks = Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"))
    val purchases = eventsStream(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val enriched = temporalEnrich(purchases, clicks,
        key = "user_id", streamTime = "ts", histTime = "ts",
        outCol = "last_click_ts")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("last_click_ts"))
    runToSnapshot(s, enriched, "q132_sink", OutputMode.Append)
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- q75
  /** Native session windows on a stream: per-user sessions closed by a
    * 30-minute inactivity gap — the dynamic-gap session window
    * Flink-style engines expose, executed as a real Structured
    * Streaming aggregation (`session_window` merges overlapping
    * per-event windows in the state store; state per key is bounded by
    * the open-session span + allowed delay once the watermark closes
    * sessions). Complete mode emits the final merged sessions for the
    * bounded demo source; oracle = the batch gap-island formulation
    * (lag + cumulative new-session flags), which the drained stream
    * must equal. Session end is last event + gap, both engines.
    */
  def q75(s: SparkSession, dir: String): DataFrame = {
    val sessions = eventsStream(s, dir)
      .withWatermark("ts", "15 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("win"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total"))
    // merged-session state grows with the corpus (95.5k × R measured)
    // → disk-backed at scale: the in-heap provider was the ×512 heap
    // kill this flag exists for
    runToSnapshot(s, sessions, "q75_sink", OutputMode.Complete,
      corpusLinearState = true)
      .select(col("user_id"), col("win.start").as("session_start"),
        col("win.end").as("session_end"), col("n_events"), col("total"))
      .orderBy("user_id", "session_start")
  }

  // --------------------------------------------------------------- q129
  /** The watermark-HELD emission mode ([[rangeStateTransformHeld]]) as
    * a GATE-CHECKED query: an event's trailing-window sum emits only
    * once the watermark proves no admissible arrival can still land
    * in it, so the DuckDB oracle is exact under ANY arrival order —
    * q29's oracle relies on event-time-ordered batch arrival (the
    * documented deviation this mode removes). Events within the 15 s
    * delay of the stream's maximum event time stay withheld at drain:
    * correct streaming semantics, mirrored in the oracle by the same
    * cutoff — including Spark's MILLISECOND watermark truncation
    * (threshold = (max_event_µs ÷ 1000 − 15000) ms, exactly what
    * `GroupState.getCurrentWatermarkMs` reports).
    */
  def q129(s: SparkSession, dir: String): DataFrame = {
    val out = rangeStateTransformHeld(s, eventsStream(s, dir))
    runToSnapshot(s, out, "q129_sink", OutputMode.Append,
      ingestRows = eventsRowCount(s, dir))
      .select(col("event_id"), col("province_id"),
        timestamp_micros(col("ts_us")).as("ts"), col("pay_amount"))
      .orderBy("event_id")
  }

  // --------------------------------------------------------------- q138
  /** One exploded blocking-key row of the document stream (q138):
    * the doc's id, content signature (n = shingle count, h1/h2 =
    * double-hash of the sorted shingle-hash set), ALL 16 LSH band
    * keys (`ks` — the pair-ownership rule below reads them), and the
    * (band, key) this row lands in (band 16 = the exact-signature key
    * space, cf. the batch pipeline).
    */
  // not `private`: Spark's codegen'd object encoders (SafeProjection)
  // instantiate these from generated Java and cannot touch a
  // private class
  case class KeyedMember(doc_id: Long, n: Int, h1: Long, h2: Long,
      ks: Array[Long], band: Int, key: Long)

  case class CandPair(a: Long, b: Long, exact: Boolean)

  /** Per-bucket cap on the streaming member state (4× the
    * batch [[graft.queries.DedupQueries.MaxBucket]]): past it a bucket
    * is saturated — later arrivals neither pair nor enter state. The
    * batch pipeline re-blocks oversized buckets instead; a saturated
    * STREAMING bucket is a duplicate flood whose identical-content
    * pairs the uncapped exact band (16) still owns, and the cap is
    * what bounds per-key state under adversarial input.
    */
  private val StreamBucketCap = 256

  /** Streaming NEAR-dup dedup (r13) — the streaming form of q35, the
    * operator a Kafka-fed corpus pipeline runs to flag each incoming
    * document against everything already seen: per-doc MinHash(128) +
    * LSH(16×8) blocking keys (the EXACT batch construction —
    * [[graft.queries.DedupQueries.streamKeyedMembers]]), a
    * `flatMapGroupsWithState` keyed by (band, key) whose state is the
    * bucket's member list (the q136 standing index, living in a state
    * store instead of a parquet table), and a stream-static verify
    * join against the corpus's hashed-feature table.
    *
    * Pair OWNERSHIP makes emission exactly-once with no stateful
    * downstream dedup: every member carries all 16 band keys, so the
    * bucket at band b emits a colliding pair iff b is the MINIMUM
    * matching band (and the exact-signature bucket, band 16, iff NO
    * band matches — possible only via a band-key hash collision). One
    * stateful operator end-to-end; the verify join is stateless per
    * micro-batch against the static feature table (planner picks
    * broadcast at gate scale; a deployment bucketizes the corpus side).
    *
    * Scale: state is one row per occupied (band, key) bucket holding
    * ≤ cap members (~17 buckets/doc — the standing LSH index shape,
    * linear in corpus), so the state store must be disk-backed at
    * corpus scale: the query pins the RocksDB provider for its
    * lifetime. Oracle: q35's brute-force SQL — the drained stream
    * must equal the batch pair set.
    */
  /** The verified streaming near-dup pair stream — q138's engine,
    * shared with q139 (apply): candidates from the (band,key)-keyed
    * `flatMapGroupsWithState` bucket index, verified by the stateless
    * stream-static join. Returns the UN-drained streaming frame
    * (a, b, jaccard) with a < b; callers pick the sink shape.
    */
  /** Memoized corpus feature table for the stream-static verify side
    * of q138/q139 — one eager `localCheckpoint(MEMORY_AND_DISK_SER)`
    * per dir, a [[graft.Memo]] stage over `documents` shared by every
    * caller in the JVM (the daily-job contract: q138 emits pairs and
    * q139 applies them over the SAME written feature table).
    */
  private def streamFeats(s: SparkSession, dir: String): DataFrame =
    graft.Memo(s, "stream_feats", dir, "documents") {
      graft.RoundStats.timed("stream_feats_ckpt") {
        graft.queries.DedupQueries.hashedFeaturesOf(
          Tables.documents(s, dir).select(col("doc_id"), col("text")))
          .localCheckpoint(true,
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      }
    }(Seq(_))

  private[graft] def streamNearDupPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType)))
    // Test/diagnostic knob: cap files per micro-batch so a multi-file
    // corpus drains in MULTIPLE batches (the per-batch-recompute
    // regression surface the 1-batch gates can't see).
    val maxFiles = Conf.maxFilesPerTrigger(s)
    // The documents table ships BOTH ways: the driver's testdata dirs
    // hold a single FILE `documents.parquet` (a file source needs a
    // directory + glob), while Spark-written dirs (ScaleStress's
    // stress corpora) hold a DIRECTORY of part files the glob would
    // silently exclude — the ×512 streams probe read 0 rows that way.
    val docRoot = new java.io.File(s"$dir/documents.parquet")
    val docReader = {
      val r = s.readStream.schema(docSchema)
      maxFiles.fold(r)(n => r.option("maxFilesPerTrigger", n.toString))
    }
    val docSource =
      if (docRoot.isDirectory)
        docReader.parquet(docRoot.getPath)
      else
        docReader.option("pathGlobFilter", "documents.parquet").parquet(dir)
    val docsStream = docSource.select(col("doc_id"), col("text"))
    val keyed = graft.queries.DedupQueries.streamKeyedMembers(docsStream)
      .as[KeyedMember]
    val candidates = keyed
      .groupByKey(m => (m.band, m.key))
      .flatMapGroupsWithState[List[KeyedMember], CandPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((band, _), rows, state) =>
          var mem = state.getOption.getOrElse(Nil)
          var sz = mem.size
          val out = List.newBuilder[CandPair]
          rows.foreach { r =>
            // band 16 (exact-signature space) is uncapped like the
            // batch pipeline: its expansion is output-sized for true
            // duplicate cliques, and it is the recall floor the cap
            // never touches
            if (band == 16 || sz < StreamBucketCap) {
              mem.foreach { m =>
                if (m.doc_id != r.doc_id) {
                  // ownership: emit from the min matching band only
                  var minMatch = -1
                  var i = 15
                  while (i >= 0) {
                    if (m.ks(i) == r.ks(i)) minMatch = i
                    i -= 1
                  }
                  val owns =
                    if (band < 16) minMatch == band else minMatch < 0
                  if (owns) {
                    val exact =
                      m.n == r.n && m.h1 == r.h1 && m.h2 == r.h2
                    // q37's size-ratio prune: J ≥ 0.5 ⇒ n_min/n_max
                    // ≥ 0.5 — zero false negatives
                    val plausible = math.min(m.n, r.n).toDouble /
                      math.max(m.n, r.n) >= 0.5
                    if (exact || plausible)
                      out += CandPair(math.min(m.doc_id, r.doc_id),
                        math.max(m.doc_id, r.doc_id), exact)
                  }
                }
              }
              mem = r :: mem
              sz += 1
            }
          }
          state.update(mem)
          out.result().iterator
      }
    // Materialized ONCE per query start (r14, VERDICT r13 #3): the
    // stream-static verify side used to re-run the full corpus
    // shingle+hash pass EVERY micro-batch — invisible in the 1-batch
    // gates, a corpus scan per batch in the real Kafka regime. The
    // eager localCheckpoint cuts it to a leaf the per-batch planner
    // just scans; SER level packs/evicts cleanly at corpus scale (the
    // deserialized-unroll OOM class is documented on
    // DedupQueries.bigCheckpoint — this is the written feature table
    // a deployment would keep next to the standing index).
    // Memoized PER DIR (ADVICE r14: q138 and q139 each built their
    // own corpus-sized checkpoint and never unpersisted it, so repeated
    // calls in one JVM accumulated corpus-sized block sets).
    val feats = streamFeats(s, dir)
    candidates.toDF()
      .join(feats.select(col("doc_id").as("a"), col("hsh").as("f_a")), "a")
      .join(feats.select(col("doc_id").as("b"), col("hsh").as("f_b")), "b")
      .select(col("a"), col("b"),
        when(col("exact"), lit(1.0))
          .otherwise(graft.queries.DedupQueries.jaccardCol(
            col("f_a"), col("f_b")))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  def q138(s: SparkSession, dir: String): DataFrame =
    // ~17 buckets/doc of member-list state ⇒ corpus-linear,
    // disk-backed at scale
    runToSnapshot(s, streamNearDupPairs(s, dir), "q138_sink",
      OutputMode.Append, corpusLinearState = true)
      .orderBy("a", "b")

  /** Streaming incremental APPLY (r13) — the keep/drop decision stream
    * that completes the streaming dedup story the way q111 completes
    * the batch one (q35→q111, q136→q137, q138→q139): as documents
    * ingest, emit a DROP verdict for every doc that near-matches
    * (Jaccard ≥ 0.5) a doc with a SMALLER doc_id already in the
    * standing bucket index. The keeper convention is pairwise
    * min-doc_id — the same keeper rule as the batch family; when
    * ingest order follows id assignment (the append-only corpus case)
    * this is exactly greedy first-seen-wins. It is deliberately the
    * ONLINE rule, not q111's connected-component one: a component's
    * non-min member with no smaller-id pair of its own (doc 2 in
    * pairs {(1,3),(2,3)}) survives here — at decision time nothing it
    * matched had been seen — while q111's retroactive clustering
    * drops it. Both ends of that spectrum are production shapes; the
    * online rule is the one a stream can decide at arrival, finally
    * (pairs only ever form against EARLIER members, so a verdict
    * never needs revision).
    *
    * Drop flags ride the pair stream (one row per verified pair whose
    * larger side is the doc — idempotent evidence, exactly-once per
    * pair via q138's ownership rule); the published view groups them
    * into one row per dropped doc with the strongest match and the
    * evidence count. State/scale identical to q138 (the shared bucket
    * index is the only stateful op — corpus-linear, disk-backed at
    * scale). Oracle: the batch pair set grouped by its larger member —
    * deterministic end to end (no LSH draw: stream and oracle hash
    * the same functions).
    */
  def q139(s: SparkSession, dir: String): DataFrame =
    runToSnapshot(s,
      streamNearDupPairs(s, dir)
        .select(col("b").as("doc_id"), col("jaccard")),
      "q139_sink", OutputMode.Append, corpusLinearState = true)
      .groupBy("doc_id")
      .agg(max(col("jaccard")).as("max_jaccard"),
        count(lit(1)).as("n_dup_sources"))
      .orderBy("doc_id")

  /** Streaming results are asserted identical to their batch forms, so
    * the oracles reuse the batch oracle SQL (q27 / q20 / join shapes).
    */
  val queries: Seq[Query] = Seq(
    Query("q75_stream_session_window", q75, Some(
      """WITH e AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTES
        |              THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, value,
        |         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e)
        |SELECT user_id, MIN(ts) AS session_start,
        |       MAX(ts) + INTERVAL 30 MINUTES AS session_end,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)),
    Query("q28_stream_tumble", q28, Some(
      """SELECT date_trunc('hour', ts) AS win_start, event_type,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin)),
    Query("q29_stream_range_state", q29, Some(
      """SELECT event_id, user_id AS province_id, ts,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER
        |       (PARTITION BY user_id ORDER BY ts
        |        RANGE BETWEEN INTERVAL 10 SECONDS PRECEDING AND CURRENT ROW)
        |       AS DOUBLE) AS pay_amount
        |FROM events ORDER BY event_id""".stripMargin)),
    // held mode: same window sums, but only events the final watermark
    // passed are emitted — the cutoff replicates Spark's ms-truncated
    // watermark ((max_µs ÷ 1000 − 15000) ms) exactly. The window sum
    // itself still ranges over ALL events: a withheld event is history
    // for earlier peers even though its own row never emits.
    Query("q129_stream_range_held", q129, Some(
      """SELECT event_id, user_id AS province_id, ts,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER
        |       (PARTITION BY user_id ORDER BY ts
        |        RANGE BETWEEN INTERVAL 10 SECONDS PRECEDING AND CURRENT ROW)
        |       AS DOUBLE) AS pay_amount
        |FROM events
        |QUALIFY epoch_us(ts) <=
        |  ((SELECT MAX(epoch_us(ts)) FROM events) // 1000 - 15000) * 1000
        |ORDER BY event_id""".stripMargin)),
    Query("q47_stream_dedup", q47, Some(
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin)),
    Query("q57_stream_stream_join", q57, Some(
      """SELECT a.event_id AS click_id, b.event_id AS purchase_id,
        |       a.user_id, a.ts AS click_ts, b.ts AS purchase_ts
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 24 HOURS
        |ORDER BY click_id, purchase_id""".stripMargin)),
    Query("q98_stream_left_join", q98, Some(
      """WITH wm AS (
        |  SELECT LEAST(MAX(ts) FILTER (WHERE event_type = 'click'),
        |               MAX(ts) FILTER (WHERE event_type = 'purchase'))
        |         - INTERVAL 15 SECONDS AS w
        |  FROM events),
        |j AS (
        |  SELECT a.event_id AS click_id, b.event_id AS purchase_id,
        |         a.user_id, a.ts AS click_ts, b.ts AS purchase_ts
        |  FROM events a LEFT JOIN events b
        |    ON a.user_id = b.user_id AND b.event_type = 'purchase'
        |   AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 24 HOURS
        |  WHERE a.event_type = 'click')
        |SELECT * FROM j
        |WHERE purchase_id IS NOT NULL
        |   OR click_ts + INTERVAL 24 HOURS < (SELECT w FROM wm)
        |ORDER BY click_id, purchase_id""".stripMargin)),
    Query("q125_stream_full_join", q125, Some(
      """WITH wm AS (
        |  SELECT LEAST(MAX(ts) FILTER (WHERE event_type = 'click'),
        |               MAX(ts) FILTER (WHERE event_type = 'purchase'))
        |         - INTERVAL 15 SECONDS AS w
        |  FROM events),
        |c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
        |      FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id AS p_user_id,
        |             ts AS purchase_ts
        |      FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT c.click_id, p.purchase_id, c.user_id, p.p_user_id,
        |         c.click_ts, p.purchase_ts
        |  FROM c FULL JOIN p
        |    ON c.user_id = p.p_user_id
        |   AND p.purchase_ts >= c.click_ts
        |   AND p.purchase_ts <= c.click_ts + INTERVAL 24 HOURS)
        |SELECT * FROM j
        |WHERE (click_id IS NOT NULL AND purchase_id IS NOT NULL)
        |   OR (purchase_id IS NULL
        |       AND click_ts + INTERVAL 24 HOURS < (SELECT w FROM wm))
        |   OR (click_id IS NULL AND purchase_ts < (SELECT w FROM wm))
        |ORDER BY click_id NULLS LAST, purchase_id NULLS LAST""".stripMargin)),
    Query("q108_stream_static_join", q108, Some(
      """SELECT e.event_id, e.user_id, c.c_nationkey, e.value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |WHERE e.event_type = 'purchase'
        |ORDER BY e.event_id""".stripMargin)),
    // temporal join drains to exactly the batch as-of result
    Query("q132_stream_temporal_join", q132, Some(
      """SELECT p.event_id, p.user_id, p.ts, p.value, l.ts AS last_click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') l
        |  ON p.user_id = l.user_id AND p.ts >= l.ts
        |ORDER BY p.event_id""".stripMargin)),
    // streaming near-dup ≡ batch q35 ≡ brute force at verify scale
    Query("q138_stream_dedup_near", q138, Some(
      graft.queries.DedupQueries.nearDupOracleSql)),
    // streaming apply ≡ the brute-force pair set grouped by its
    // larger member (the pairwise min-id-wins drop rule)
    Query("q139_stream_dedup_apply", q139, Some(
      graft.queries.DedupQueries.nearDupApplyOracleSql)))
}
