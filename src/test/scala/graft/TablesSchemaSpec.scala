package graft

import graft.sources.Sources
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** `Tables` resolves a single file's schema from its footer on the
  * driver instead of letting `spark.read.parquet` infer it with a
  * Spark job. The declared schema must be exactly the one Spark would
  * infer, for every layout the loaders meet.
  */
class TablesSchemaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf
  private val tables = Seq("lineitem", "orders", "customer", "supplier",
    "part", "nation", "region", "documents", "embeddings", "events")

  private def inferred(path: String) = spark.read.parquet(path).schema

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** `body` with `nanosAsLong` set on the shared session, which Spark's
    * own inference of a TIMESTAMP(NANOS) file needs; unset after, so no
    * later test runs with it.
    */
  private def withNanosAsLong[A](body: => A): A = {
    spark.conf.set(nanosAsLong, "true")
    try body finally spark.conf.unset(nanosAsLong)
  }

  test("footer schema equals Spark's inferred schema for every sf table") {
    withNanosAsLong {
      for (t <- tables) {
        val path = s"$sf/$t.parquet"
        assert(Tables.read(spark, path).schema === inferred(path), t)
      }
      // the public loaders: only `events.ts` is normalized (NTZ → TIMESTAMP
      // in this layout); every other table loads exactly as inferred
      for (t <- tables.filterNot(_ == "events"))
        assert(Tables(spark, sf, t).schema === inferred(s"$sf/$t.parquet"), t)
      val events = inferred(s"$sf/events.parquet")
      assert(Tables.events(spark, sf).schema === events.copy(fields =
        events.fields.map(f =>
          if (f.name == "ts") f.copy(dataType = TimestampType) else f)))
    }
  }

  test("Spark-written part-file directory and part file keep Spark's schema") {
    val dir = Files.createTempDirectory("graft_tables_part").resolve("o").toString
    Sources.writePartitioned(Tables.orders(spark, sf), dir, "o_orderstatus")
    // directory: Spark's listing, partition column included
    val viaTables = Tables.read(spark, dir)
    assert(viaTables.schema === inferred(dir))
    assert(viaTables.schema.fieldNames.last === "o_orderstatus")
    // one part file: Spark's row-metadata key drives the footer schema
    val part = Files.walk(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString).find(_.endsWith(".parquet")).get
    assert(Tables.read(spark, part).schema === inferred(part))
  }

  /** One-row events file with `ts` stored as INT64 TIMESTAMP(`unit`),
    * without timezone — the two layouts the events loaders handle —
    * written without Spark's row metadata, as the generator does.
    */
  private def eventsFile(unit: String, ts: Long): String = {
    val dir = Files.createTempDirectory(s"graft_ts_$unit")
    val schema = MessageTypeParser.parseMessageType(
      s"""message schema {
         |  optional int64 event_id;
         |  optional int64 ts (TIMESTAMP($unit,false));
         |  optional int64 user_id;
         |  optional binary event_type (STRING);
         |  optional double value;
         |  optional binary props (STRING);
         |}""".stripMargin)
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(dir.resolve("events.parquet").toString), conf))
      .withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", ts).append("user_id", 7L)
      .append("event_type", "click").append("value", 1.0).append("props", "{}"))
    finally w.close()
    dir.toString
  }

  test("both events.ts layouts: footer schema equals inferred, same instant") {
    val instantUs = 1700000000000000L // 2023-11-14T22:13:20 in µs
    for ((unit, stored, expectTs) <- Seq(
        ("NANOS", instantUs * 1000L, LongType),
        ("MICROS", instantUs, TimestampNTZType))) withNanosAsLong {
      val dir = eventsFile(unit, stored)
      val path = s"$dir/events.parquet"
      val raw = Tables.read(spark, path).schema
      assert(raw === inferred(path), unit)
      assert(raw("ts").dataType === expectTs, unit)
      val got = Tables.events(spark, dir)
        .select(unix_micros(col("ts"))).head.getLong(0)
      assert(got === instantUs, s"$unit layout mis-scaled")
    }
    // the session's inference confs apply to the footer schema too
    val ntzOff = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val path = s"${eventsFile("MICROS", instantUs)}/events.parquet"
    spark.conf.set(ntzOff, "false")
    try {
      assert(Tables.read(spark, path).schema("ts").dataType === TimestampType)
      assert(Tables.read(spark, path).schema === inferred(path))
    } finally spark.conf.unset(ntzOff)
  }

  test("with nanosAsLong unset, both events.ts layouts load the same instant and leave it unset") {
    // a fresh session: nothing any other test set applies here
    val s = spark.newSession()
    assert(!s.conf.getAll.contains(nanosAsLong))
    val instantUs = 1700000000000000L
    val dirs = Seq(eventsFile("NANOS", instantUs * 1000L),
      eventsFile("MICROS", instantUs))
    val batch = dirs.map(d =>
      Tables.events(s, d).select(unix_micros(col("ts"))).head.getLong(0))
    assert(batch === Seq(instantUs, instantUs))
    val streamed = dirs.map(d =>
      SparkEntry.queries("q28_stream_tumble")(s, d).collect().toSeq)
    assert(streamed.head.nonEmpty)
    assert(streamed.head === streamed.last, "the stream read another instant")
    assert(!s.conf.getAll.contains(nanosAsLong), "a loader set nanosAsLong")
  }

  test("a single-file load starts no Spark job") {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      // listener delivery is async; quiesce the bus around the loads
      org.apache.spark.sql.GraftSqlBridge.waitForListeners(spark.sparkContext)
      val j0 = jobs.get()
      tables.foreach(t => Tables(spark, sf, t))
      org.apache.spark.sql.GraftSqlBridge.waitForListeners(spark.sparkContext)
      assert(jobs.get() === j0, "a table load scheduled a Spark job")
      // control: Spark's own inference does run one
      spark.read.parquet(s"$sf/orders.parquet")
      org.apache.spark.sql.GraftSqlBridge.waitForListeners(spark.sparkContext)
      assert(jobs.get() > j0, "control: schema inference ran no job")
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
