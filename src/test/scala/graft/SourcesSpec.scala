package graft

import graft.sources.Sources
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class SourcesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf
  private lazy val tmp = Files.createTempDirectory("graft_sources").toString

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("o_orderkey").collect().map(_.toSeq).toSeq

  test("csv round-trip preserves rows and schema") {
    val orders = Tables.orders(spark, sf)
    Sources.writeCsv(orders, s"$tmp/orders_csv")
    val back = Sources.readCsv(spark, s"$tmp/orders_csv", orders.schema)
    assert(canon(back) === canon(orders))
  }

  test("json-lines round-trip preserves rows") {
    val orders = Tables.orders(spark, sf)
    Sources.writeJsonLines(orders, s"$tmp/orders_json")
    val back = Sources.readJsonLines(spark, s"$tmp/orders_json", orders.schema)
    assert(canon(back) === canon(orders))
  }

  test("orc round-trip preserves rows") {
    val orders = Tables.orders(spark, sf)
    Sources.writeOrc(orders, s"$tmp/orders_orc")
    assert(canon(Sources.readOrc(spark, s"$tmp/orders_orc")) === canon(orders))
  }

  test("partitioned write enables partition pruning on read") {
    val orders = Tables.orders(spark, sf)
    Sources.writePartitioned(orders, s"$tmp/orders_part", "o_orderstatus")
    val pruned = spark.read.parquet(s"$tmp/orders_part")
      .filter(col("o_orderstatus") === "F")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("o_orderstatus"), s"no partition pruning in:\n$plan")
    assert(pruned.count() ===
      orders.filter(col("o_orderstatus") === "F").count())
  }

  test("bucketed table join avoids the shuffle on the bucket key") {
    val s = spark
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val orders = Tables.orders(s, sf).select("o_orderkey", "o_custkey")
      Sources.writeBucketed(orders, "orders_bkt", "o_orderkey", 8)
      val li = Tables.lineitem(s, sf).select("l_orderkey", "l_quantity")
      Sources.writeBucketed(li, "lineitem_bkt", "l_orderkey", 8)
      val joined = s.table("orders_bkt").join(s.table("lineitem_bkt"),
        col("o_orderkey") === col("l_orderkey"))
      val exchanges = joined.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"bucketed join still shuffles:\n${joined.queryExecution.executedPlan}")
      assert(joined.count() > 0)
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      s.sql("DROP TABLE IF EXISTS orders_bkt")
      s.sql("DROP TABLE IF EXISTS lineitem_bkt")
    }
  }

  /** Layout defense (the events.ts type changed three times across
    * rounds): an int64 ts may be epoch-NANOS (the legacy layout) or
    * epoch-MICROS — `DIV 1000` on micros would be silently 1000× off
    * (1970-01 timestamps, the exact symptom the verify skill warns
    * about). The loader disambiguates by the magnitude of the footer's
    * `ts` statistics; both flavors must load to the SAME instant.
    */
  test("events loader disambiguates int64 ns vs µs by magnitude") {
    import spark.implicits._
    val instantUs = 1700000000000000L // 2023-11-14T22:13:20 in µs
    def write(unit: Long): String = {
      val d = Files.createTempDirectory(s"graft_ts_$unit")
      Seq((1L, instantUs * unit, 7L, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(d.resolve("events.parquet").toString)
      d.toString
    }
    val fromNs = Tables.events(spark, write(1000L))
      .select(unix_micros(col("ts"))).head.getLong(0)
    val fromUs = Tables.events(spark, write(1L))
      .select(unix_micros(col("ts"))).head.getLong(0)
    assert(fromNs === instantUs, "ns layout mis-scaled")
    assert(fromUs === instantUs, "µs layout mis-scaled")
  }

  test("zValue interleaves bits exactly (Morton order)") {
    import spark.implicits._
    val got = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (5L, 3L),
        (65535L, 0L), (0L, 65535L), (65535L, 65535L))
      .toDF("a", "b")
      .select(Sources.zValue(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    def ref(a: Long, b: Long) = (0 until 16).foldLeft(0L)((z, i) =>
      z | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1)))
    assert(got === Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (5L, 3L),
      (65535L, 0L), (0L, 65535L), (65535L, 65535L)).map((ref _).tupled))
    // spot values: (1,0)=1, (0,1)=2, (1,1)=3, full-a = 0x55555555
    assert(got(1) === 1L && got(2) === 2L && got(3) === 3L)
    assert(got(5) === 0x55555555L && got(6) === 0xAAAAAAAAL)
  }

  /** The layout claim itself: per-file min/max spans are compact in
    * BOTH z-ordered dimensions, while a single-column sort leaves its
    * trailing column's span at ~full range (no pruning for it).
    */
  test("z-ordered files are compact in both dims; sorted files in one") {
    import spark.implicits._
    // two independent uniform dims — the worst case for 1-D sorting
    val rnd = new scala.util.Random(1234)
    val rows = (1 to 40000).map(_ =>
      (rnd.nextInt(1000000).toLong, rnd.nextInt(1000000).toLong))
    val df = rows.toDF("x", "y")
    val files = 16
    def spans(path: String): (Double, Double) = {
      val f = spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg((max(col("x")) - min(col("x"))).as("sx"),
          (max(col("y")) - min(col("y"))).as("sy"))
        .agg(avg(col("sx")), avg(col("sy"))).collect()(0)
      (f.getDouble(0) / 1000000.0, f.getDouble(1) / 1000000.0)
    }
    Sources.writeZOrdered(df, s"$tmp/z_layout", "x", "y", files)
    df.repartitionByRange(files, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(s"$tmp/x_sorted")
    val (zx, zy) = spans(s"$tmp/z_layout")
    val (sx, sy) = spans(s"$tmp/x_sorted")
    // 16 files on a z-curve ⇒ each covers ~1/4 of each axis
    assert(zx < 0.45 && zy < 0.45,
      f"z-order spans not compact: x=$zx%.2f y=$zy%.2f")
    assert(sx < 0.15, f"x-sort should be tight on x, got $sx%.2f")
    assert(sy > 0.8, f"x-sort should leave y un-pruned, got $sy%.2f")
    assert(spark.read.parquet(s"$tmp/z_layout").count() === 40000)
  }

  /** The CONSUMER-visible half of the z-order claim (r7, verdict #6):
    * a predicate on the trailing dimension actually SKIPS data at the
    * scan. Plain parquet has no catalog-level file pruning — the
    * mechanism is pushed-filter row-group skipping against footer
    * min/max — so the assertable metric is the scan's output rows:
    * each file here is one row group, so a skipped file contributes
    * zero. On the z layout a 10%-of-range y-predicate must leave most
    * row groups behind; the x-sorted layout scans the full corpus for
    * the same predicate (every file spans all of y).
    */
  test("z-ordered read skips row groups on the trailing dim; x-sort cannot") {
    // reuses the layouts written by the spans test when present;
    // rewrite defensively so the test stands alone
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    val rows = (1 to 40000).map(_ =>
      (rnd.nextInt(1000000).toLong, rnd.nextInt(1000000).toLong))
    val df = rows.toDF("x", "y")
    Sources.writeZOrdered(df, s"$tmp/z_skip", "x", "y", 16)
    df.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(s"$tmp/x_skip")
    def scanRows(path: String): Long = {
      val q = spark.read.parquet(path)
        .filter(col("y").between(100000L, 200000L))
      q.collect()
      val plan = q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val scans = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      assert(scans.nonEmpty, s"no parquet scan in:\n$plan")
      assert(scans.head.metadata("PushedFilters").contains("GreaterThanOrEqual"),
        "y predicate not pushed to the scan")
      scans.map(_.metrics("numOutputRows").value).sum
    }
    val zRows = scanRows(s"$tmp/z_skip")
    val xRows = scanRows(s"$tmp/x_skip")
    assert(xRows === 40000L,
      s"x-sorted layout should scan everything for a y predicate, got $xRows")
    assert(zRows <= 20000L,
      s"z-ordered layout should skip most row groups, scanned $zRows of 40000")
    info(f"scan rows: z=$zRows x=$xRows (${zRows * 100.0 / xRows}%.0f%%)")
  }
}
