package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All loads are plain parquet scans so Catalyst keeps full
  * pushdown/pruning freedom; callers `.select(...)` only what they need
  * and the parquet scan prunes columns + pushes filters.
  */
object Tables {

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, dir)
      case _        => read(spark, s"$dir/$name.parquet")
    }

  /** Parquet scan of `path`. A single file's schema is resolved from
    * its footer on the driver and declared to the reader, so the load
    * starts no Spark job (bare `spark.read.parquet` infers it with a
    * one-task job, ~65 ms per load at bench scale). The conversion is
    * the one that job runs per footer, under the session's SQL conf
    * (`nanosAsLong`, `inferTimestampNTZ`, Spark's row-metadata key all
    * apply), so the schema is exactly the inferred one. `nanosAsLong`
    * reads a TIMESTAMP(NANOS) column as its raw int64 whatever the
    * session says: the declared `LONG` is all the reader needs, so the
    * caller's session is never written. Directories — Spark-written
    * part-file dirs — keep Spark's own listing and inference, which
    * also discovers partition columns.
    */
  private[graft] def read(spark: SparkSession, path: String,
      nanosAsLong: Boolean = false): DataFrame = {
    val p = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    // a missing path or a glob falls through to Spark's own error/match
    val isFile = scala.util.Try(p.getFileSystem(conf).getFileStatus(p))
      .toOption.exists(_.isFile)
    if (isFile) {
      val c = spark.sessionState.conf
      val converter = new ParquetToSparkSchemaConverter(
        c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp,
        c.caseSensitiveAnalysis, c.parquetInferTimestampNTZEnabled,
        nanosAsLong || c.legacyParquetNanosAsLong,
        c.parquetFieldIdReadEnabled, c.parquetIgnoreVariantAnnotation,
        c.parquetReaderRespectUnknownTypeAnnotation)
      val schema = ParquetFileFormat.readSchemaFromFooter(
        new Footer(p, footer(p, conf)), converter)
      spark.read.schema(schema).parquet(path)
    } else spark.read.parquet(path)
  }

  /** The footer of one parquet file, read on the driver by Spark's own
    * footer reader under `conf` — the only place graft opens a parquet
    * footer. (`ParquetFileReader.open` without options would build a
    * fresh Hadoop `Configuration` per call, ~6 ms; this is ~0.2 ms.)
    */
  private[graft] def footer(path: Path,
      conf: org.apache.hadoop.conf.Configuration): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromPath(path, conf),
      ParquetMetadataConverter.NO_FILTER)

  /** `events.ts` normalization — the stored layout has CHANGED across
    * driver rounds, so the loader probes and adapts instead of
    * assuming:
    *  - TIMESTAMP(NANOS) (pandas ns, rounds 1-6): Spark has no ns
    *    timestamp — declare the footer's int64 as `LONG` (see
    *    [[read]]'s `nanosAsLong`) and truncate to microseconds, exactly
    *    what DuckDB does on the same file;
    *  - timestamp[us] WITHOUT timezone (round 7+): Spark infers
    *    TIMESTAMP_NTZ, which watermarks and `unix_micros` reject —
    *    cast to TIMESTAMP. The session timezone is UTC everywhere in
    *    this engine, so the NTZ wall time IS the UTC instant, matching
    *    DuckDB's naive read of the same column.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = read(spark, s"$dir/events.parquet", nanosAsLong = true)
    raw.schema("ts").dataType match {
      case LongType =>
        // An int64 ts could be epoch-NANOS (TIMESTAMP(NANOS) read via
        // the legacy flag — rounds 1-6) or a plain epoch-MICROS int64
        // (never shipped yet, but the layout has changed three times);
        // `DIV 1000` on micros would be silently 1000× off (1970-01
        // timestamps). Disambiguate by magnitude on ONE sampled row
        // (early-terminating single-row-group read, memoized per dir):
        // modern epochs are ~1.7e18 ns vs ~1.7e15 µs; the 1e17 cut
        // is year ~5138 in µs and ~1973 in ns — unambiguous for any
        // post-1973 synthetic corpus.
        raw.withColumn("ts", timestamp_micros(
          expr(s"ts DIV ${int64TsDivisor(raw, s"$dir/events.parquet")}")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  private val tsUnitCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** The DIV-to-µs divisor for an int64 `ts` column of the batch frame
    * `raw` (see the magnitude rationale above). Shared with the
    * streaming loader so both read the identical instants; memoized
    * per file path (one single-row probe per JVM per path).
    */
  private[graft] def int64TsDivisor(raw: DataFrame, path: String): Long =
    tsUnitCache.getOrElseUpdate(path, {
      // sample a non-null value (getLong on a null cell throws);
      // an all-null or empty column defaults to the legacy ns layout
      val sample = raw.select(col("ts"))
        .filter(col("ts").isNotNull).limit(1).collect()
      if (sample.isEmpty || math.abs(sample(0).getLong(0)) > 1e17.toLong)
        1000L
      else 1L
    })

  def lineitem(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")

  /** `embeddings.embedding` is probed like `events.ts`: the native
    * vector kernels (CosineSim, SrpCode) read FLOAT elements, and
    * `ArrayData.getFloat` on a double-backed array returns garbage
    * WITHOUT throwing — if a future regeneration ships
    * `array<double>`, silently-wrong similarities everywhere. Cast
    * down at the source instead: queries keep running, and any
    * low-order-bit oracle drift is a visible, attributable gate
    * failure rather than corruption.
    */
  def embeddings(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val raw = read(spark, s"$dir/embeddings.parquet")
    raw.schema("embedding").dataType match {
      case ArrayType(DoubleType, _) =>
        raw.withColumn("embedding",
          col("embedding").cast(ArrayType(FloatType)))
      case _ => raw
    }
  }
}
