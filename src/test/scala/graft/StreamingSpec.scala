package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stream ≡ batch equivalence — the strongest checkable claim for the
  * reference's streaming semantics (SURVEY.md §5): the streaming
  * execution of a window aggregation must produce exactly the batch
  * answer once the source is drained.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private def rowsOf(name: String) =
    SparkEntry.queries(name)(spark, sf).collect().map(_.toSeq).toSeq

  test("q28 streaming tumble == q27 batch tumble") {
    assert(rowsOf("q28_stream_tumble") === rowsOf("q27_tumble_batch"))
  }

  test("q29 stateful stream range-window == q20 batch range-window") {
    val stream = SparkEntry.queries("q29_stream_range_state")(spark, sf)
      .select("event_id", "province_id", "ts", "pay_amount")
      .collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("q20_window_range")(spark, sf)
      .select("event_id", "province_id", "ts", "pay_amount")
      .collect().map(_.toSeq).toSeq
    assert(stream === batch)
  }

  // A Spark-written table is a directory of part files; the events
  // stream reads it as it reads the generator's single file.
  test("q29 over a Spark-written part-file events directory equals q29 over the single file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_parts").toFile
    try {
      Tables.read(spark, s"$sf/events.parquet", nanosAsLong = true).repartition(3)
        .write.parquet(s"$dir/events.parquet")
      assert(new java.io.File(s"$dir/events.parquet").listFiles()
        .count(_.getName.endsWith(".parquet")) === 3)
      def q29(d: String) = SparkEntry.queries("q29_stream_range_state")(spark, d)
        .collect().map(_.toSeq).toSeq
      val single = q29(sf)
      assert(single.nonEmpty)
      assert(q29(dir.getPath) === single)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  // An Append drain's snapshot is the union of its batch checkpoints; a
  // Complete drain's is the last batch, the replaced ones freed.
  test("a drained stream's snapshot is its batch checkpoints, not a local collection") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.StreamingQueries.runToSnapshot
    val dir = java.nio.file.Files.createTempDirectory("graft_snapshot").toString
    // three files read one per micro-batch: three batches
    (0 until 3).foreach(i => spark.range(i * 10L, i * 10L + 10).toDF("id")
      .coalesce(1).write.mode("append").parquet(dir))
    val source = spark.readStream.schema("id LONG")
      .option("maxFilesPerTrigger", "1").parquet(dir)
    def leaves(df: DataFrame) = df.queryExecution.analyzed.collect {
      case r: LogicalRDD => r.rdd.id
      case l: LocalRelation => fail(s"a LocalRelation in the snapshot plan:\n${df.queryExecution.analyzed}")
    }
    val appended = Profile.of(spark)(runToSnapshot(spark, source, OutputMode.Append))
    assert(appended.streams.map(_.batchId) === Seq(2L))
    assert(appended.actions.count(_.name == "localCheckpoint") === 3)
    assert(leaves(appended.value).size === 3)
    assert(appended.value.collect().map(_.getLong(0)).toSeq === (0L until 30L))
    // Complete: every batch is the whole state; only the last is kept
    // and the two it replaced are freed
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val counts = runToSnapshot(spark,
      source.groupBy((col("id") % 3).as("k")).count(), OutputMode.Complete)
    val kept = leaves(counts)
    assert(kept.size === 1)
    assert(spark.sparkContext.getPersistentRDDs.keySet -- before === kept.toSet)
    assert(counts.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((0L, 10L), (1L, 10L), (2L, 10L)))
    // no batch at all: an empty frame of the stream's schema
    val empty = java.nio.file.Files.createTempDirectory("graft_snapshot_empty").toString
    val none = runToSnapshot(spark, spark.readStream.schema("id LONG").parquet(empty),
      OutputMode.Append)
    assert(none.schema === source.schema && none.count() === 0L)
    intercept[IllegalArgumentException](runToSnapshot(spark, source, OutputMode.Update))
  }

  /** Three time-split micro-batches; batch 2 carries a LATE event
    * (key B, ts=90s) that is within the 15 s allowed delay of the
    * post-batch-1 watermark (84s-15s=69s) and whose trailing window
    * reaches back into batch-1 events — the cross-batch buffer must
    * serve it. (ts in seconds → micros below.)
    */
  private val eventBatches = Seq(
    Seq((1L, 10L, 1L, 1.0), (2L, 18L, 1L, 2.0), (3L, 50L, 1L, 4.0),
      (4L, 80L, 2L, 8.0), (5L, 84L, 2L, 16.0)),
    Seq((6L, 110L, 1L, 32.0), (7L, 90L, 2L, 64.0)), // 7 is late
    Seq((8L, 205L, 1L, 128.0), (9L, 200L, 2L, 256.0)))

  /** Write batch `i` as one parquet file into the streaming source
    * dir, mtime-ordered so the file source picks them up in order.
    */
  private def writeBatchFile(dir: java.io.File, i: Int,
      rows: Seq[(Long, Long, Long, Double)]): Unit = {
    import spark.implicits._
    import java.nio.file.Files
    val tmp = Files.createTempDirectory(s"graft_mb_part$i").toString
    rows.toDF("event_id", "ts_s", "user_id", "value")
      .select(col("event_id"), timestamp_seconds(col("ts_s")).as("ts"),
        col("user_id"), col("value"))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(dir, f"batch$i%02d.parquet")
    Files.move(part.toPath, dst.toPath)
    dst.setLastModified(1000000L * (i + 1)) // force source file order
  }

  /** Batch truth for `eventBatches`: trailing 10 s RANGE window. */
  private def rangeWindowTruth: Set[Seq[Any]] = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val all = eventBatches.flatten.toDF("event_id", "ts_s", "user_id", "value")
      .select(col("event_id"), col("user_id"),
        (col("ts_s") * 1000000L).as("ts_us"), col("value"))
    val w = Window.partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(-10000000L, 0L)
    all.select(col("event_id"), col("user_id").as("province_id"), col("ts_us"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .over(w).cast("double").as("pay_amount"))
      .collect().map(_.toSeq).toSet
  }

  private def eventsFileStream(dir: java.io.File) = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("value", DoubleType)))
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
  }

  test("q29 transform is batch-exact across >=3 micro-batches incl. in-delay late events") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_mb_stream").toFile
    dir.deleteOnExit()
    eventBatches.zipWithIndex.foreach { case (rows, i) => writeBatchFile(dir, i, rows) }

    val src = eventsFileStream(dir)
    val out = graft.streaming.StreamingQueries.rangeStateTransform(spark, src)
    val name = s"mb_sink_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        "expected >=3 non-empty micro-batches")
      // Watermark-driven state lifecycle: the buffers must hold only
      // the (window + delay) tail per key, not the whole stream.
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      val stateBytes = q.lastProgress.stateOperators
        .map(_.memoryUsedBytes).sum
      info(s"q29 retained state: $stateRows rows, $stateBytes bytes " +
        s"after ${eventBatches.flatten.size} input events")
      assert(stateRows <= 4, s"state leaked: $stateRows rows retained")
    } finally {
      q.stop(); q.awaitTermination()
    }
    val streamed = spark.table(name)
      .select("event_id", "province_id", "ts_us", "pay_amount")
      .collect().map(_.toSeq).toSet
    spark.catalog.dropTempView(name)
    assert(streamed === rangeWindowTruth)
  }

  /** The watermark-held emission variant restores reference-exact
    * sums for OUT-OF-ORDER batch arrivals: batch 1 delivers an
    * in-delay event (ts 104) BEHIND an already-seen event (ts 106).
    * Immediate mode emitted event 2's window in batch 0 — before its
    * in-delay mate existed — so its sum misses it; held mode emits
    * only once the watermark proves the window complete, matching the
    * batch RANGE window for every emitted event. Events the final
    * watermark never passes stay withheld (correct streaming
    * semantics; asserted too).
    */
  test("held emission matches batch truth on out-of-order batches where immediate deviates") {
    import java.nio.file.Files
    val batches = Seq(
      Seq((1L, 100L, 1L, 1.0), (2L, 106L, 1L, 2.0)),
      // 104 is in-delay late (wm after batch 0 = 106-15 = 91): its
      // arrival retro-affects event 2's [96,106] window
      Seq((3L, 104L, 1L, 4.0), (4L, 130L, 1L, 8.0)),
      Seq((5L, 200L, 1L, 16.0))) // pushes wm to 185: flushes 1,2,3,4
    def runMode(held: Boolean): Map[Long, Double] = {
      val dir = Files.createTempDirectory("graft_held_stream").toFile
      dir.deleteOnExit()
      batches.zipWithIndex.foreach { case (rows, i) => writeBatchFile(dir, i, rows) }
      val src = eventsFileStream(dir)
      val out =
        graft.streaming.StreamingQueries.rangeStateTransform(spark, src, held)
      val name = s"held_sink_${System.nanoTime()}_$held"
      val q = out.writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try q.processAllAvailable() finally { q.stop(); q.awaitTermination() }
      val rows = spark.table(name).collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("pay_amount"))
        .toMap
      spark.catalog.dropTempView(name)
      rows
    }
    // batch RANGE-window truth over ALL events
    val truth = Map(1L -> 1.0, 2L -> 7.0, 3L -> 5.0, 4L -> 8.0, 5L -> 16.0)
    val held = runMode(held = true)
    val immediate = runMode(held = false)
    // held: every emitted sum is batch-exact; event 5 (beyond the
    // final watermark 185) is withheld, 1-4 all emitted
    assert(held.keySet === Set(1L, 2L, 3L, 4L))
    held.foreach { case (id, v) => assert(v === truth(id), s"event $id") }
    // immediate: emits everything, but event 2's sum (emitted in batch
    // 0) misses the batch-1 in-delay mate — the documented deviation
    assert(immediate.keySet === Set(1L, 2L, 3L, 4L, 5L))
    assert(immediate(2L) === 3.0, "immediate mode emitted 2 before its late mate")
    assert(immediate(3L) === truth(3L))
  }

  /** Regression (r6): a key whose newest event is far behind the
    * global watermark used to schedule its retention timeout at a
    * timestamp the watermark had already passed — Spark rejects that
    * and kills the query (FLATMAPGROUPSWITHSTATE_USER_FUNCTION_ERROR).
    * The single-key specs above cannot hit it: it needs one batch
    * carrying both a straggler key and another key whose events push
    * the watermark far past the straggler's whole horizon.
    */
  test("held emission survives straggler keys far behind the watermark") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_straggler").toFile
    dir.deleteOnExit()
    // one batch: key 1's history ends at ts 110; key 2 pushes the
    // watermark to 99985 — beyond key 1's horizon by ~27 h of margin
    writeBatchFile(dir, 0, Seq(
      (1L, 100L, 1L, 1.0), (2L, 110L, 1L, 2.0),
      (3L, 100000L, 2L, 4.0)))
    // second batch advances the watermark again so key 1's retention
    // timeout (clamped past the old watermark) actually fires
    writeBatchFile(dir, 1, Seq((4L, 200000L, 2L, 8.0)))
    val src = eventsFileStream(dir)
    val out = graft.streaming.StreamingQueries.rangeStateTransform(spark, src, held = true)
    val name = s"straggler_sink_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try q.processAllAvailable() finally { q.stop(); q.awaitTermination() }
    val rows = spark.table(name).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("pay_amount"))
      .toMap
    spark.catalog.dropTempView(name)
    // all watermark-passed events emitted with exact sums; event 4
    // (at the final maximum) stays withheld
    assert(rows === Map(1L -> 1.0, 2L -> 3.0, 3L -> 4.0))
  }

  /** Regression (r7, ADVICE): held-mode state must DRAIN for idle keys.
    * The old eviction horizon was key-local (newest − window − delay),
    * so a key's newest emitted row always survived its own filter and
    * `state.remove()` was unreachable once the key had seen data — the
    * timer (clamped to wm+1) then re-fired on every watermark advance
    * forever. The fix evicts emitted rows against the GLOBAL
    * admissibility bound (ts < watermark − window): key 1 goes idle in
    * batch 0 while key 2 keeps pushing the watermark ~days past it —
    * key 1's state must reach zero rows, leaving only key 2's pending
    * tail.
    */
  test("held emission drains idle keys: state returns to the live tail only") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_drain").toFile
    dir.deleteOnExit()
    writeBatchFile(dir, 0, Seq((1L, 100L, 1L, 1.0), (2L, 110L, 1L, 2.0)))
    writeBatchFile(dir, 1, Seq((3L, 100000L, 2L, 4.0)))
    writeBatchFile(dir, 2, Seq((4L, 200000L, 2L, 8.0)))
    writeBatchFile(dir, 3, Seq((5L, 300000L, 2L, 16.0)))
    val src = eventsFileStream(dir)
    val out = graft.streaming.StreamingQueries.rangeStateTransform(spark, src, held = true)
    val name = s"drain_sink_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    val stateRows = try {
      q.processAllAvailable()
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    } finally { q.stop(); q.awaitTermination() }
    val rows = spark.table(name).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("pay_amount"))
      .toMap
    spark.catalog.dropTempView(name)
    // key 1 fully emitted, exact sums; event 5 (at the final maximum)
    // stays withheld
    assert(Map(1L -> 1.0, 2L -> 3.0, 3L -> 4.0).forall {
      case (k, v) => rows.get(k).contains(v) })
    assert(!rows.contains(5L), "event at the watermark frontier must be withheld")
    // the leak signature: key 1's rows pinned forever (old code retains
    // its 2 rows + key 2's tail = >=3). Drained state holds at most
    // key 2's pending tail.
    info(s"retained state rows after drain: $stateRows")
    assert(stateRows <= 2L, s"idle-key state not drained: $stateRows rows")
  }

  /** Property form of the held-mode contract: on a SEEDED random
    * corpus delivered in a random-but-admissible order (local shuffle
    * with ts inversions bounded below the 15 s delay, so no event is
    * ever dropped as too-late), every emitted sum must equal the
    * batch RANGE-window truth over the full corpus, and exactly the
    * events the final watermark never passes stay withheld. The
    * authored cases above pin specific shapes; this pins the CLASS.
    */
  test("held emission is batch-exact on a seeded random in-delay arrival order") {
    import java.nio.file.Files
    val rnd = new scala.util.Random(20260813)
    // ts-ordered events with random 0-4 s gaps over 4 keys
    var ts = 100L
    val events = (1 to 60).map { id =>
      ts += rnd.nextInt(5)
      (id.toLong, ts, (rnd.nextInt(4) + 1).toLong, (rnd.nextInt(800) + 1) / 100.0)
    }
    // admissible disorder: shuffle within a 3-position window → ts
    // inversion ≤ 12 s < 15 s delay
    val order = events.grouped(3).flatMap(g => rnd.shuffle(g)).toSeq
    val batches = order.grouped(10).toSeq
    val dir = Files.createTempDirectory("graft_held_prop").toFile
    dir.deleteOnExit()
    batches.zipWithIndex.foreach { case (rows, i) => writeBatchFile(dir, i, rows) }
    val src = eventsFileStream(dir)
    val out = graft.streaming.StreamingQueries.rangeStateTransform(spark, src, held = true)
    val name = s"held_prop_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try q.processAllAvailable() finally { q.stop(); q.awaitTermination() }
    val got = spark.table(name).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("pay_amount"))
      .toMap
    spark.catalog.dropTempView(name)
    // batch truth over the FULL corpus (exact-decimal sums)
    def d2(v: Double) = java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP)
    val truth = events.map { case (id, t, k, _) =>
      id -> events.filter { case (_, t2, k2, _) =>
        k2 == k && t2 >= t - 10 && t2 <= t }
        .map(e => d2(e._4)).reduce(_ add _).doubleValue
    }.toMap
    val maxTs = events.map(_._2).max
    val expectEmitted = events.filter(_._2 <= maxTs - 15).map(_._1).toSet
    assert(got.keySet === expectEmitted,
      s"emitted set != watermark-passed set (maxTs=$maxTs)")
    got.foreach { case (id, v) =>
      assert(v === truth(id), s"event $id: got $v want ${truth(id)}") }
  }

  test("q29 transform recovers exactly-once from checkpoint on RocksDB state store") {
    import java.nio.file.Files
    // The production state path: durable checkpoint + RocksDB state
    // store (incremental-snapshot state that scales past executor
    // heap), with a mid-stream stop/restart. The restarted query must
    // resume from committed offsets + state — combined output is the
    // batch answer exactly once, late event included.
    val dir = Files.createTempDirectory("graft_ckpt_stream").toFile
    val ckpt = Files.createTempDirectory("graft_ckpt_loc").toString
    val outDir = Files.createTempDirectory("graft_ckpt_out").toString
    dir.deleteOnExit()
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Parquet file sink: the memory sink is a debug surface with no
    // commit log and refuses checkpoint recovery; the file sink's
    // _spark_metadata transaction log is what gives end-to-end
    // exactly-once across restarts in production.
    def runPhase(): Unit = {
      val q = graft.streaming.StreamingQueries
        .rangeStateTransform(spark, eventsFileStream(dir))
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt).start()
      try { q.processAllAvailable() } finally { q.stop(); q.awaitTermination() }
    }
    def committedRows: Seq[Seq[Any]] = spark.read.parquet(outDir)
      .select("event_id", "province_id", "ts_us", "pay_amount")
      .collect().map(_.toSeq).toSeq
    try {
      // Phase 1: first two batches, then a hard stop.
      eventBatches.take(2).zipWithIndex.foreach { case (rows, i) =>
        writeBatchFile(dir, i, rows)
      }
      runPhase()
      val phase1 = committedRows
      assert(phase1.nonEmpty, "phase 1 produced no rows")

      // Phase 2: third batch arrives; an IDENTICAL query restarts from
      // the same checkpoint — it must resume from committed offsets +
      // RocksDB key state, not reprocess phase-1 batches.
      writeBatchFile(dir, 2, eventBatches(2))
      runPhase()
      val all = committedRows

      // Exactly-once: compared as a MULTISET (sorted seq) — a replayed
      // batch would duplicate rows, which a set compare could hide.
      assert(all.size === rangeWindowTruth.size,
        s"row count ${all.size} != ${rangeWindowTruth.size} (replay or loss)")
      assert(all.map(_.toString).sorted ===
        rangeWindowTruth.toSeq.map(_.toString).sorted)
      assert(phase1.toSet.subsetOf(all.toSet))
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("Trigger.AvailableNow drains the source incrementally and terminates") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger
    // The production scheduled-ingest pattern: each invocation drains
    // everything available in bounded micro-batches, then STOPS on its
    // own (unlike processAllAvailable, which needs a driver watching).
    // Two invocations over a growing dir must be exactly-once overall.
    val dir = Files.createTempDirectory("graft_an_stream").toFile
    val ckpt = Files.createTempDirectory("graft_an_ckpt").toString
    val outDir = Files.createTempDirectory("graft_an_out").toString
    dir.deleteOnExit()
    def drain(): Unit = {
      val q = graft.streaming.StreamingQueries
        .rangeStateTransform(spark, eventsFileStream(dir))
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "AvailableNow query did not self-terminate")
    }
    eventBatches.take(2).zipWithIndex.foreach { case (rows, i) =>
      writeBatchFile(dir, i, rows)
    }
    drain()
    writeBatchFile(dir, 2, eventBatches(2))
    drain()
    val all = spark.read.parquet(outDir)
      .select("event_id", "province_id", "ts_us", "pay_amount")
      .collect().map(_.toSeq).toSeq
    assert(all.size === rangeWindowTruth.size)
    assert(all.map(_.toString).sorted ===
      rangeWindowTruth.toSeq.map(_.toString).sorted)
  }

  /** The full-outer stream join must agree with the inner join on the
    * matched subset, and every null-padded row must be one-sided (a
    * watermark-proven unmatched click or purchase, never both null).
    */
  test("q125 full-outer stream join ⊇ q57 inner join; null rows one-sided") {
    val full = SparkEntry.queries("q125_stream_full_join")(spark, sf)
      .collect()
    val matched = full.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inner = SparkEntry.queries("q57_stream_stream_join")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(matched === inner)
    assert(full.forall(r => !(r.isNullAt(0) && r.isNullAt(1))))
    // the outer rows are the point of the operator — assert some exist
    assert(full.exists(r => r.isNullAt(0)) || full.exists(r => r.isNullAt(1)))
  }

  /** Incremental outer-row semantics across micro-batches: a
    * full-outer stream-stream join must emit matches as both sides
    * arrive, withhold null rows while a match is still possible, and
    * flush each side's unmatched rows in the LATER batch whose
    * watermark proves no counterpart can come.
    */
  test("full-outer stream join flushes null rows incrementally across micro-batches") {
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_foj_stream").toFile
    dir.deleteOnExit()
    val sch = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", TimestampType)))

    def writeBatch(i: Int, rows: Seq[(Long, Long, String, Long)]): Unit = {
      import spark.implicits._
      val tmp = Files.createTempDirectory(s"graft_foj_part$i").toString
      rows.toDF("event_id", "user_id", "event_type", "ts_s")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_seconds(col("ts_s")).as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, f"batch$i%02d.parquet")
      Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1000000L * (i + 1))
    }

    def sideStream() = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val clicks = sideStream().filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "15 seconds")
    val purchases = sideStream().filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "15 seconds")
    val joined = clicks.join(purchases,
      expr("""user_id = p_user_id AND
              purchase_ts >= click_ts AND
              purchase_ts <= click_ts + interval 24 hours"""), "full_outer")

    val name = s"foj_mb_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    def ids(): Set[(Option[Long], Option[Long])] =
      spark.table(name).collect().map { r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))
      }.toSet
    try {
      // u1 matches in-batch; u2 click and u3 purchase never match
      writeBatch(0, Seq((1L, 1L, "click", 1000L), (2L, 1L, "purchase", 4600L),
        (3L, 2L, "click", 1000L), (4L, 3L, "purchase", 8200L)))
      q.processAllAvailable()
      assert(ids() === Set((Some(1L), Some(2L))),
        "only the matched pair may emit while null rows are still in-window")
      // u4's pair sits 30 h later: the watermark passes u2's 24 h
      // click window and u3's purchase ts, so BOTH null rows flush now
      writeBatch(1, Seq((5L, 4L, "click", 109000L), (6L, 4L, "purchase", 110000L)))
      q.processAllAvailable()
      assert(ids() === Set((Some(1L), Some(2L)), (Some(5L), Some(6L)),
        (Some(3L), None), (None, Some(4L))))
      // a third epoch must add only its own match — no re-emits, no dupes
      writeBatch(2, Seq((7L, 5L, "click", 250000L), (8L, 5L, "purchase", 251000L)))
      q.processAllAvailable()
      assert(ids() === Set((Some(1L), Some(2L)), (Some(5L), Some(6L)),
        (Some(3L), None), (None, Some(4L)), (Some(7L), Some(8L))))
      val n = spark.table(name).count()
      assert(n === 5, s"expected 5 physical rows, got $n (duplicate emits)")
    } finally {
      q.stop(); spark.sql(s"DROP TABLE IF EXISTS $name")
    }
  }

  /** MEASURED state bounds for the watermarked stream-stream join
    * (q57/q98/q125's shape): the "state is O(window + delay), not
    * O(stream)" claim, asserted from `stateOperators` numbers instead
    * of argued from design. Four epochs arrive >24 h apart (past the
    * join range), so each epoch's buffered rows become evictable as
    * the next epoch's watermark lands; retained state must track the
    * watermark horizon, not the cumulative input.
    */
  test("stream-stream join state stays bounded by the watermark horizon") {
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_sb_stream").toFile
    dir.deleteOnExit()
    val sch = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", TimestampType)))
    def writeBatch(i: Int, rows: Seq[(Long, Long, String, Long)]): Unit = {
      import spark.implicits._
      val tmp = Files.createTempDirectory(s"graft_sb_part$i").toString
      rows.toDF("event_id", "user_id", "event_type", "ts_s")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_seconds(col("ts_s")).as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, f"batch$i%02d.parquet")
      Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1000000L * (i + 1))
    }
    def sideStream() = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val clicks = sideStream().filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "15 seconds")
    val purchases = sideStream().filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "15 seconds")
    val joined = clicks.join(purchases,
      expr("""user_id = p_user_id AND
              purchase_ts >= click_ts AND
              purchase_ts <= click_ts + interval 24 hours"""), "full_outer")
    val name = s"sb_mb_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    def stateRows(): Long = {
      val ps = q.recentProgress.filter(_.stateOperators.nonEmpty)
      if (ps.isEmpty) 0L else ps.last.stateOperators.map(_.numRowsTotal).sum
    }
    try {
      // 4 epochs, ~30 h apart (> 24 h range + 15 s delay): 4 rows each
      // (2 clicks, 2 purchases; one matched pair, two strays per epoch)
      val epochGap = 108000L // 30 h in seconds
      val perEpoch = 4
      val trajectory = (0 until 4).map { i =>
        val t0 = 1000L + i * epochGap
        writeBatch(i, Seq(
          (i * 10 + 1L, i * 10 + 1L, "click", t0),
          (i * 10 + 2L, i * 10 + 1L, "purchase", t0 + 600L),
          (i * 10 + 3L, i * 10 + 2L, "click", t0),
          (i * 10 + 4L, i * 10 + 3L, "purchase", t0 + 700L)))
        q.processAllAvailable()
        val s = stateRows()
        info(f"epoch $i: cumulative input ${(i + 1) * perEpoch}, state rows $s")
        s
      }
      val totalInput = 4L * perEpoch
      // Eviction keeps state at ~the newest epoch (+ the one straddling
      // the horizon during cleanup), far below cumulative input.
      assert(trajectory.last <= 2L * perEpoch,
        s"state ${trajectory.last} rows not bounded by the watermark " +
          s"horizon (input $totalInput)")
      assert(trajectory.max < totalInput,
        s"state grew with the stream: ${trajectory.mkString(",")}")
    } finally {
      q.stop(); spark.sql(s"DROP TABLE IF EXISTS $name")
    }
  }

  /** Stream-stream join state must survive a restart: the buffered
    * unmatched rows (waiting on a match or a watermark proof) live in
    * the state store, so a recovered query must neither re-emit
    * phase-1 matches nor lose the null rows owed for phase-1
    * unmatched events.
    */
  test("full-outer stream join recovers exactly-once from checkpoint") {
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_fojckpt_src").toFile
    val ckpt = Files.createTempDirectory("graft_fojckpt_loc").toString
    val outDir = Files.createTempDirectory("graft_fojckpt_out").toString
    dir.deleteOnExit()
    val sch = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", TimestampType)))

    def writeBatch(i: Int, rows: Seq[(Long, Long, String, Long)]): Unit = {
      import spark.implicits._
      val tmp = Files.createTempDirectory(s"graft_fojckpt_part$i").toString
      rows.toDF("event_id", "user_id", "event_type", "ts_s")
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_seconds(col("ts_s")).as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath,
        new java.io.File(dir, f"batch$i%02d.parquet").toPath)
    }

    def runPhase(): Unit = {
      def side() = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      val clicks = side().filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "15 seconds")
      val purchases = side().filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "15 seconds")
      val joined = clicks.join(purchases,
        expr("""user_id = p_user_id AND
                purchase_ts >= click_ts AND
                purchase_ts <= click_ts + interval 24 hours"""), "full_outer")
        .select(col("click_id"), col("purchase_id"))
      val q = joined.writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt).start()
      try { q.processAllAvailable() } finally { q.stop(); q.awaitTermination() }
    }
    def committed: Seq[(Option[Long], Option[Long])] =
      spark.read.parquet(outDir).collect().map { r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0)),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))
      }.toSeq

    // phase 1: u1 matches; u2 click + u3 purchase buffer unmatched,
    // then u4's 30h-later pair advances the watermark → nulls flush
    writeBatch(0, Seq((1L, 1L, "click", 1000L), (2L, 1L, "purchase", 4600L),
      (3L, 2L, "click", 1000L), (4L, 3L, "purchase", 8200L)))
    writeBatch(1, Seq((5L, 4L, "click", 109000L), (6L, 4L, "purchase", 110000L)))
    runPhase()
    val phase1 = committed
    assert(phase1.nonEmpty, "phase 1 produced no rows")

    // phase 2: restart from the checkpoint; only u5's match may appear
    writeBatch(2, Seq((7L, 5L, "click", 250000L), (8L, 5L, "purchase", 251000L)))
    runPhase()
    val all = committed
    val expected = Seq((Some(1L), Some(2L)), (Some(5L), Some(6L)),
      (Some(3L), None), (None, Some(4L)), (Some(7L), Some(8L)))
    assert(all.sortBy(_.toString) === expected.sortBy(_.toString),
      s"multiset mismatch (replay or loss): $all")
    assert(phase1.toSet.subsetOf(all.toSet))
  }

  test("q75 session windows merge across micro-batches") {
    import java.nio.file.Files
    // user 1: five events with gaps < 30 min that STRADDLE the first
    // two micro-batches (1200 s in batch 1 → 1500 s in batch 2 must
    // merge into one session in the state store), then a 60-min-gap
    // pair in batch 3 opening a second session. user 2: two isolated
    // single-event sessions.
    val batches = Seq(
      Seq((1L, 0L, 1L, 1.0), (2L, 600L, 1L, 1.0), (3L, 1200L, 1L, 1.0),
        (10L, 0L, 2L, 2.0)),
      Seq((4L, 1500L, 1L, 1.0), (5L, 2400L, 1L, 1.0), (11L, 7200L, 2L, 2.0)),
      Seq((6L, 6000L, 1L, 1.0), (7L, 6300L, 1L, 1.0)))
    val dir = Files.createTempDirectory("graft_sess_stream").toFile
    dir.deleteOnExit()
    batches.zipWithIndex.foreach { case (rows, i) => writeBatchFile(dir, i, rows) }

    val sessions = eventsFileStream(dir)
      .withWatermark("ts", "15 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("win"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
    val name = s"sess_sink_${System.nanoTime()}"
    val q = sessions.writeStream.outputMode("complete").format("memory")
      .queryName(name).start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        "expected >=3 non-empty micro-batches")
    } finally { q.stop(); q.awaitTermination() }
    val got = spark.table(name)
      .select(col("user_id"), unix_timestamp(col("win.start")).as("s"),
        unix_timestamp(col("win.end")).as("e"), col("n"), col("total"))
      .collect().map(_.toSeq).toSet
    spark.catalog.dropTempView(name)
    // session end = last event + gap (1800 s)
    val want: Set[Seq[Any]] = Set(
      Seq(1L, 0L, 2400L + 1800L, 5L, 5.0),
      Seq(1L, 6000L, 6300L + 1800L, 2L, 2.0),
      Seq(2L, 0L, 1800L, 1L, 2.0),
      Seq(2L, 7200L, 9000L, 1L, 2.0))
    assert(got === want)
  }

  test("dropDuplicatesWithinWatermark dedups in-delay repeats, passes expired keys") {
    import java.nio.file.Files
    // The bounded-state streaming dedup (vs q47's keep-forever state):
    // the CONTRACT is one-sided — duplicates arriving within the 15 s
    // delay are guaranteed dropped; repeats after the key's state
    // expires MAY be re-emitted (state cleanup timing is the engine's
    // business). What it buys at scale: state is O(keys active within
    // the delay), not O(stream).
    val batches = Seq(
      Seq((1L, 10L, 1L, 1.0), (2L, 12L, 1L, 1.0), (3L, 20L, 2L, 2.0)),
      Seq((4L, 60L, 2L, 2.0)),   // dup of key 2 while its state is live
      Seq((5L, 200L, 1L, 1.0)))  // repeat of key 1 long after expiry
    val dir = Files.createTempDirectory("graft_ddww_stream").toFile
    dir.deleteOnExit()
    batches.zipWithIndex.foreach { case (rows, i) => writeBatchFile(dir, i, rows) }

    val deduped = eventsFileStream(dir)
      .withWatermark("ts", "15 seconds")
      .dropDuplicatesWithinWatermark("user_id")
    val name = s"ddww_sink_${System.nanoTime()}"
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try q.processAllAvailable() finally { q.stop(); q.awaitTermination() }
    val kept = spark.table(name).select("event_id").collect()
      .map(_.getLong(0)).toSet
    spark.catalog.dropTempView(name)
    // guaranteed: first arrivals pass, in-delay dups never do
    assert(Set(1L, 3L).subsetOf(kept))
    assert(kept.intersect(Set(2L, 4L)).isEmpty)
    // anything emitted must be a first-or-post-expiry arrival
    assert(kept.subsetOf(Set(1L, 3L, 5L)))
  }

  test("q132 stream temporal join == batch as-of; plan keeps ZERO state") {
    // drained stream must equal the custom batch as-of operator
    val stream = rowsOf("q132_stream_temporal_join")
    val batch = SparkEntry.queries("q124_asof_native")(spark, sf)
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    assert(stream === batch)

    // statelessness: the temporal enrichment is a broadcast join +
    // projection per micro-batch — a multi-batch run must report NO
    // stateful operators (this is the design point vs Flink's
    // managed-state temporal join)
    import spark.implicits._
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val dir = Files.createTempDirectory("graft_temporal_stream")
    dir.toFile.deleteOnExit()
    Seq(Seq("""{"id": 1, "k": 10, "t": 100}""", """{"id": 2, "k": 10, "t": 250}"""),
        Seq("""{"id": 3, "k": 10, "t": 50}""", """{"id": 4, "k": 99, "t": 500}"""))
      .zipWithIndex.foreach { case (chunk, i) =>
        val f = Paths.get(dir.toString, f"ev$i%02d.jsonl")
        Files.write(f, chunk.mkString("", "\n", "\n").getBytes,
          StandardOpenOption.CREATE)
        f.toFile.setLastModified(1000000L * (i + 1))
      }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id LONG, k LONG, t LONG")
    val hist = Seq((10L, 90L), (10L, 200L), (77L, 1L)).toDF("k", "ht")
    val enriched = graft.streaming.StreamingQueries.temporalEnrich(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").json(dir.toString),
      hist, key = "k", streamTime = "t", histTime = "ht", outCol = "last_ht")
    val name = s"temporal_sink_${System.nanoTime()}"
    val q = enriched.writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "expected a multi-batch run")
      assert(q.recentProgress.forall(_.stateOperators.isEmpty),
        "temporal join must not allocate streaming state")
    } finally { q.stop(); q.awaitTermination() }
    val got = spark.table(name).collect()
      .map(r => r.getLong(r.fieldIndex("id")) ->
        (if (r.isNullAt(r.fieldIndex("last_ht"))) -1L
         else r.getLong(r.fieldIndex("last_ht")))).toMap
    spark.catalog.dropTempView(name)
    // 1: t=100 → 90; 2: t=250 → 200; 3: t=50 → none; 4: key unknown
    assert(got === Map(1L -> 90L, 2L -> 200L, 3L -> -1L, 4L -> -1L))
  }

  test("reference payment pipeline end-to-end: JSONL file stream == batch") {
    import java.nio.file.{Files, Paths, StandardOpenOption}
    // The reference's whole surface in one run: JSON-lines wire format
    // → schema'd decode with watermark → per-province tumbling-window
    // sum → JSON sink codec, executed as a real multi-batch stream.
    val recs = Seq(
      """{"createTime": "2023-09-20 10:00:01", "orderId": 1, "payAmount": 10.50, "payPlatform": 0, "provinceId": 1}""",
      """{"createTime": "2023-09-20 10:00:04", "orderId": 2, "payAmount": 2.25, "payPlatform": 1, "provinceId": 1}""",
      """{"createTime": "2023-09-20 10:00:11", "orderId": 3, "payAmount": 7.00, "payPlatform": 0, "provinceId": 2}""",
      """{"createTime": "2023-09-20 10:00:14", "orderId": 4, "payAmount": 1.75, "payPlatform": 1, "provinceId": 1}""",
      """{"createTime": "2023-09-20 10:00:21", "orderId": 5, "payAmount": 4.00, "payPlatform": 0, "provinceId": 2}""")
    val dir = Files.createTempDirectory("graft_pay_stream")
    dir.toFile.deleteOnExit()
    recs.grouped(3).zipWithIndex.foreach { case (chunk, i) =>
      val f = Paths.get(dir.toString, f"pay$i%02d.jsonl")
      Files.write(f, chunk.mkString("", "\n", "\n").getBytes,
        StandardOpenOption.CREATE)
      f.toFile.setLastModified(1000000L * (i + 1))
    }

    def pipeline(lines: org.apache.spark.sql.DataFrame) =
      graft.streaming.StreamingQueries.jsonPaymentSource(spark, lines)
        .groupBy(window(col("createTime"), "10 seconds").as("win"),
          col("provinceId"))
        .agg(sum(col("payAmount")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("pay_amount"))
        .select(col("win.start").as("win_start"), col("provinceId"),
          col("pay_amount"))

    val streamed = pipeline(
      spark.readStream.option("maxFilesPerTrigger", "1").text(dir.toString))
    val name = s"pay_sink_${System.nanoTime()}"
    val q = streamed.writeStream.outputMode("complete").format("memory")
      .queryName(name).start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
    } finally { q.stop(); q.awaitTermination() }
    val got = spark.table(name).collect().map(_.toSeq).toSet
    spark.catalog.dropTempView(name)

    import spark.implicits._
    val batch = pipeline(recs.toDF("value")).collect().map(_.toSeq).toSet
    assert(got === batch)

    // sink codec round-trips the aggregate rows as JSON objects
    val sunk = graft.streaming.StreamingQueries.toJsonSink(
      pipeline(recs.toDF("value"))).collect().map(_.getString(0))
    assert(sunk.length === batch.size)
    assert(sunk.forall(s => s.startsWith("{") && s.contains("\"provinceId\":")))

    // malformed lines are dropped at the source, not propagated as
    // null-time rows into the windowed aggregate
    val withJunk = recs ++ Seq("not json at all", """{"orderId": 99}""")
    assert(pipeline(withJunk.toDF("value")).collect().map(_.toSeq).toSet
      === batch)
  }

  test("foreachBatch sink writes every micro-batch exactly once") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_feb_stream").toFile
    dir.deleteOnExit()
    eventBatches.zipWithIndex.foreach { case (rows, i) => writeBatchFile(dir, i, rows) }
    val outDir = Files.createTempDirectory("graft_feb_out").toString

    // The arbitrary-sink escape hatch: foreachBatch hands each
    // micro-batch to batch-writer code with its batch id — the id is
    // the idempotency key a transactional sink dedups on after
    // restart (same contract the file sink's transaction log uses).
    val q = eventsFileStream(dir).writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(outDir)
        ()
      }
      .start()
    try q.processAllAvailable() finally { q.stop(); q.awaitTermination() }

    val written = spark.read.parquet(outDir)
    assert(written.count() === eventBatches.map(_.size).sum)
    assert(written.select("batch_id").distinct().count() >= 3)
    assert(written.select("event_id").distinct().count()
      === eventBatches.flatten.map(_._1).distinct.size)
  }

  test("json payment source decodes the reference wire format with watermark") {
    import spark.implicits._
    val lines = Seq(
      """{"createTime": "2023-09-20 22:19:02.224", "orderId": 1695248388, "payAmount": 88694.71922270155, "payPlatform": 0, "provinceId": 6}""")
      .toDF("value")
    val decoded = graft.streaming.StreamingQueries
      .jsonPaymentSource(spark, lines)
    val r = decoded.collect().head
    assert(r.getAs[Long]("orderId") === 1695248388L)
    assert(r.getAs[Int]("provinceId") === 6)
    val sinkRow = graft.streaming.StreamingQueries.toJsonSink(
      decoded.select(col("provinceId").as("province_id"),
        col("payAmount").as("pay_amount"))).collect().head
    assert(sinkRow.getString(0).contains("\"province_id\":6"))
  }
}
