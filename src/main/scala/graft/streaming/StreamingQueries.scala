package graft.streaming

import graft.{Conf, Tables}
import graft.ScopedConf.withConf
import graft.queries.Query
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Structured Streaming re-expression of the reference's execution
  * model (SURVEY.md §2 q28–q29, q47, q57): schema'd stream source →
  * event-time windowed / stateful transform → sink.
  *
  * Reference: `/root/reference/window_aggregation.py` — Kafka JSON
  * source with a 15 s watermark, per-message trailing 10 s RANGE-window
  * sum per province, JSON sink. The Kafka connector jar isn't in this
  * image, so the demos run a file source drained into per-batch
  * checkpoints ([[runToSnapshot]]); the transforms are
  * connector-agnostic (any streaming DataFrame in, DataFrame out).
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
        // int64 layout: ns-vs-µs decided from the footer as the batch
        // loader does (Tables.events), so stream and batch read the
        // identical instants.
        raw.withColumn("ts", timestamp_micros(expr(s"ts DIV ${
          Tables.int64TsDivisor(s, s"$dir/events.parquet")}")))
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
    df.select(to_json(struct(df.columns.toSeq.map(col): _*)).as("value"))

  /** Rows micro-batch 1 will ingest from `dir`'s `table`: a replay
    * harness feeds the whole scaled table as ONE file, so one
    * micro-batch ingests all of it and the watermark never advances
    * INSIDE it. A stream-stream join or watermark-held operator then
    * buffers the entire input in its state store during that batch:
    * corpus-sized peak state even though the state is watermark-bounded
    * across batches. Measured: 51.2 M rows (x512) drained in-heap on the
    * 8 g JVM; 102.4 M (x1024) GC-thrashed until the executor heartbeat
    * expired (exit 56) with no OOM thrown.
    *
    * The count sums the row groups of the table's parquet footers on the
    * driver (no Spark job, ~0.2 ms a footer), nested layouts included,
    * on every call, so an in-place rewrite is counted again. A failed
    * probe, including a directory with no parquet file under it, is
    * LOGGED and returns 0: 0 keeps the in-heap provider whatever the
    * batch size, the GC-freeze regime this count exists to prevent, so
    * it must never be silent.
    */
  private[graft] def tableRowCount(s: SparkSession, dir: String,
      table: String): Long = {
    val path = s"$dir/$table.parquet"
    try {
      val conf = s.sparkContext.hadoopConfiguration
      val files = Tables.parquetFiles(path, conf)
      if (files.isEmpty)
        throw new java.io.FileNotFoundException(s"no .parquet files under $path")
      files.map(f => Tables.footer(f.getPath, conf).getBlocks.asScala
        .map(_.getRowCount).sum).sum
    } catch {
      case e: Exception =>
        System.err.println("[graft] row-count footer probe failed " +
          s"for $path (${e.getClass.getSimpleName}: ${e.getMessage}) - " +
          "intra-batch ingest unknown; the IN-HEAP state provider " +
          "will be kept regardless of batch size for this query")
        0L
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

  /** Drain `df` and return what its sink holds at the end, as a batch
    * frame. Every micro-batch is kept as an eager `localCheckpoint` of
    * the batch's own frame: one action per batch, whose executed plan is
    * the stream's physical plan and whose tasks are the batch's work
    * ([[graft.Profile]] reports both). An Append drain returns the union
    * of its batches in batch-id order; a Complete drain emits the whole
    * result every batch, so it returns the last batch and frees each one
    * it replaces. Zero batches return an empty frame of `df`'s schema.
    * The snapshot lives in executor block storage, so no output-sized
    * data passes through the driver. Batches, state rows and partitions
    * are in the stream's progress events, which a caller reads through
    * [[graft.Profile]].
    */
  private[graft] def runToSnapshot(s: SparkSession, df: DataFrame,
      mode: OutputMode, corpusLinearState: Boolean = false,
      ingestRows: Long = 0L): DataFrame = {
    val complete = mode == OutputMode.Complete()
    // Update emits per-batch deltas: neither their union nor the last
    // batch is the result. No stream query uses it.
    if (!complete && mode != OutputMode.Append())
      throw new IllegalArgumentException(
        s"a stream snapshot supports Append/Complete, not $mode " +
          "(Update emits deltas; a full-state snapshot would be wrong)")
    // Stateful operators allocate one state store per shuffle partition
    // per operator, and every store adds its own setup and commit to
    // each batch, so the stream's partitioning is capped (see
    // streamPartitionCap). The conf is fixed into the query's checkpoint
    // when it starts.
    // State-store provider: the default keeps every partition's state
    // map in the heap. Disk-backed RocksDB is chosen by state growth
    // law, not blanket: dedup keys (q47), session windows (q75) and LSH
    // buckets (q138/q139) grow with the corpus and must spill (q75's
    // ~49 M merged session rows at x512 killed the 8 g JVM in-heap).
    // Watermark-bounded join buffers and fixed-span window aggregates
    // stay in the heap: blanket RocksDB made q125 4x slower at x512
    // (92 -> 368 s, 335 k state rows). Any query spills when ONE
    // micro-batch ingests more rows than the heap can buffer as
    // intra-batch state (see tableRowCount).
    // Changelog checkpointing rides along: with full snapshots every
    // commit re-uploads each compaction-rewritten SST (3.99 -> 5.36 ->
    // 10.96 GB per commit for 12 GB of live state at x2048, until the
    // checkpoint disk filled); with changelogs a commit ships only the
    // batch's own puts and snapshots move to the maintenance thread.
    val rocks = if (corpusLinearState || ingestRows > HeapIngestMaxRows) Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled" -> "true") else Nil
    // Checkpoint file manager (see checkpointFileManager) for where
    // Spark puts an unnamed query's checkpoint: the session's checkpoint
    // root, else a local temp dir, whose scheme-less path resolves like
    // `.`. A manager the session already names is kept.
    val ckptKey = "spark.sql.streaming.checkpointFileManagerClass"
    val ckptManager =
      if (s.conf.getOption(ckptKey).isDefined) None
      else checkpointFileManager(
        s.conf.getOption("spark.sql.streaming.checkpointLocation").getOrElse("."),
        s.sessionState.newHadoopConf())
    // The drain starts on the CALLER's session inside one scoped
    // window, not on a clone carrying these confs: a stream started
    // from another session reports to that session's listeners (the
    // caller's StreamingQueryListener saw 0 of 3 events) and leaves one
    // more listener on the SparkContext bus per drain. The stream
    // clones the confs when it starts, so the window closes right after.
    val scoped = Seq("spark.sql.shuffle.partitions" -> streamPartitionCap(
      s.conf.get("spark.sql.shuffle.partitions").toInt).toString) ++
      ckptManager.map(ckptKey -> _) ++ rocks
    // micro-batches run one at a time, in batch-id order, on the
    // stream's thread
    val batches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val q = withConf(s, scoped: _*) {
      GraftSqlBridge.startMicroBatches(df, mode) { batch =>
        val kept = GraftSqlBridge.checkpointBatch(batch)
        batches.synchronized {
          if (complete) {
            batches.foreach(graft.queries.DedupQueries.checkpointRdd(_).unpersist(false))
            batches.clear()
          }
          batches += kept
        }
      }
    }
    try q.processAllAvailable()
    finally {
      q.stop()
      q.awaitTermination()
    }
    // A stopped stream's state-store providers stay cached (q29's holds
    // the whole event buffer of its last batch): evict them so a
    // finished stream does not tax later queries sharing the heap.
    GraftSqlBridge.unloadStateStores()
    batches.synchronized(batches.reduceOption(_ union _)).getOrElse(
      s.createDataFrame(s.sparkContext.emptyRDD[Row], df.schema))
  }

  // ---------------------------------------------------------------- q28
  /** Tumbling event-time window aggregation executed as a REAL
    * streaming query (file source → complete-mode snapshot), then
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
    runToSnapshot(s, agged, OutputMode.Complete)
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
    runToSnapshot(s, out, OutputMode.Append)
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
    runToSnapshot(s, deduped, OutputMode.Append,
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
    runToSnapshot(s, joined, OutputMode.Append,
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
    runToSnapshot(s, joined, OutputMode.Append,
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
    runToSnapshot(s, joined, OutputMode.Append,
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
    runToSnapshot(s, joined, OutputMode.Append)
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
    runToSnapshot(s, enriched, OutputMode.Append)
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
    runToSnapshot(s, sessions, OutputMode.Complete,
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
    runToSnapshot(s, out, OutputMode.Append,
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
  private[graft] def streamFeats(s: SparkSession, dir: String): DataFrame =
    graft.Memo(s, "stream_feats", dir, "documents") {
      graft.queries.DedupQueries.hashedFeaturesOf(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
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
    runToSnapshot(s, streamNearDupPairs(s, dir),
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
      OutputMode.Append, corpusLinearState = true)
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
