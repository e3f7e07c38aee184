package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.column.statistics.LongStatistics
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import scala.jdk.CollectionConverters._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All loads are plain parquet scans so Catalyst keeps full
  * pushdown/pruning freedom; callers `.select(...)` only what they need
  * and the parquet scan prunes columns + pushes filters.
  */
object Tables {

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    normalized(spark, dir, name,
      read(spark, s"$dir/$name.parquet", nanosAsLong = name == "events"))

  /** Streaming read of the table `name` under `dir`: the source
    * declares the batch loader's footer schema ([[read]]) and its rows
    * get the batch loader's normalization, so a drained stream reads
    * exactly what [[apply]] reads. A Spark-written directory of part
    * files streams by its path. A single file streams through its
    * parent directory and a `pathGlobFilter` on its name: Spark's file
    * source rejects a file path ("Option 'basePath' must be a
    * directory"), and the glob on a directory's name matches none of
    * its part files. `maxFilesPerTrigger` caps the files a micro-batch
    * ingests.
    */
  def stream(spark: SparkSession, dir: String, name: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val path = new Path(s"$dir/$name.parquet")
    val schema = read(spark, path.toString, nanosAsLong = name == "events").schema
    val reader = maxFilesPerTrigger.foldLeft(spark.readStream.schema(schema))(
      (r, n) => r.option("maxFilesPerTrigger", n.toString))
    val raw =
      if (path.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(path).isDirectory)
        reader.parquet(path.toString)
      else reader.option("pathGlobFilter", path.getName).parquet(path.getParent.toString)
    normalized(spark, dir, name, raw)
  }

  /** Parquet scan of `path`, a single file or a Spark-written
    * directory of part files. The schema is resolved from one data
    * file's footer on the driver and declared to the reader, so the
    * load starts no Spark job (bare `spark.read.parquet` infers it with
    * a one-task job outside any SQL execution, ~65 ms per load at bench
    * scale). The conversion is the one that job runs on the same footer
    * (Spark's inference also reads one part file), under the session's
    * SQL conf (`nanosAsLong`, `inferTimestampNTZ`, Spark's row-metadata
    * key all apply), so the schema is exactly the inferred one; a
    * directory's partition columns are still discovered by Spark's
    * listing and appended. `nanosAsLong` reads a TIMESTAMP(NANOS)
    * column as its raw int64 whatever the session says: the declared
    * `LONG` is all the reader needs, so the caller's session is never
    * written.
    */
  private[graft] def read(spark: SparkSession, path: String,
      nanosAsLong: Boolean = false): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    // a missing path, a glob or a dir without .parquet files falls
    // through to Spark's own error/match
    scala.util.Try(parquetFiles(path, conf)).toOption.flatMap(_.headOption) match {
      case Some(first) =>
        val c = spark.sessionState.conf
        val converter = new ParquetToSparkSchemaConverter(
          c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp,
          c.caseSensitiveAnalysis, c.parquetInferTimestampNTZEnabled,
          nanosAsLong || c.legacyParquetNanosAsLong,
          c.parquetFieldIdReadEnabled, c.parquetIgnoreVariantAnnotation,
          c.parquetReaderRespectUnknownTypeAnnotation)
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(first.getPath, footer(first.getPath, conf)), converter)
        spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** The data files of the parquet table at `path`: the file itself,
    * or every `.parquet` file under a directory (partition
    * subdirectories included) in path order, skipping what Spark's
    * file index skips (`_SUCCESS`, `_temporary`, `.crc`). Listed on
    * the driver through the Hadoop FileSystem; a missing path throws.
    */
  private[graft] def parquetFiles(path: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def hidden(name: String) =
      name.startsWith(".") || (name.startsWith("_") && !name.contains("="))
    // listStatus/getFileStatus, not listFiles: a LocatedFileStatus
    // copies the permissions, which the local FS without native Hadoop
    // reads by running `ls` per file
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq
        .filterNot(f => hidden(f.getPath.getName))
        .sortBy(_.getPath.getName).flatMap(walk)
      else if (st.getPath.getName.endsWith(".parquet")) Seq(st)
      else Nil
    val root = fs.getFileStatus(p)
    if (root.isFile) Seq(root) else walk(root)
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

  /** `events.ts` normalization, one for the batch and the streaming
    * loader (other tables pass through). The loader adapts to the
    * stored layout rather than assuming one:
    *  - an int64 `ts` (a TIMESTAMP(NANOS) column, which [[read]]'s
    *    `nanosAsLong` declares as its raw `LONG`, or an unannotated
    *    int64) becomes microseconds by [[int64TsDivisor]], exactly what
    *    DuckDB reads from the same file;
    *  - a timestamp WITHOUT timezone (Spark infers TIMESTAMP_NTZ, which
    *    watermarks and `unix_micros` reject) is cast to TIMESTAMP. The
    *    session timezone is UTC everywhere in this engine, so the NTZ
    *    wall time IS the UTC instant, matching DuckDB's naive read of
    *    the same column.
    */
  private def normalized(spark: SparkSession, dir: String, name: String,
      raw: DataFrame): DataFrame =
    if (name != "events") raw
    else raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(
          expr(s"ts DIV ${int64TsDivisor(spark, s"$dir/events.parquet")}")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }

  /** The DIV-to-microseconds divisor of the int64 `ts` column of the
    * events table at `path`, decided from its footers (no Spark job, no
    * cache: a rewritten table is read again). A TIMESTAMP(NANOS)
    * annotation means ns. An unannotated INT64 is ns when the largest
    * magnitude in its min/max statistics is past 1e17, else µs: modern
    * epochs are ~1.7e18 ns vs ~1.7e15 µs, and the cut is year ~5138 in
    * µs and ~1973 in ns. Without statistics it is ns, the legacy
    * layout.
    */
  private[graft] def int64TsDivisor(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val footers = parquetFiles(path, conf).map(f => footer(f.getPath, conf))
    val nanos = footers.headOption.map(_.getFileMetaData.getSchema).exists { m =>
      m.getType(m.getFieldIndex("ts")).getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _ => false
      }
    }
    val magnitudes = footers.flatMap(_.getBlocks.asScala)
      .flatMap(_.getColumns.asScala.filter(_.getPath.toDotString == "ts"))
      .map(_.getStatistics).collect {
        case st: LongStatistics if st.hasNonNullValue =>
          math.max(math.abs(st.getMin), math.abs(st.getMax))
      }
    if (nanos || magnitudes.isEmpty || magnitudes.max > 1e17.toLong) 1000L
    else 1L
  }

  def events(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "events")
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
