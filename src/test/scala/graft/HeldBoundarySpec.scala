package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Terminal-watermark boundary of the held emission mode: an event
  * whose event time equals the FINAL watermark satisfies the emission
  * predicate (ts <= wm — the q129 oracle's QUALIFY cutoff is the same
  * <=), so it must flush. The flush timer is the only thing that can
  * invoke its key at that point (no further data arrives), and
  * Spark's event-time timeout fires strictly BELOW the watermark — an
  * arming of oldest-pending-ms + 1 parks the timer exactly ON the
  * final watermark and the event is silently withheld.
  */
class HeldBoundarySpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def writeBatchFile(dir: java.io.File, i: Int,
      rows: Seq[(Long, Long, Long, Double)]): Unit = {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory(s"graft_hb_part$i").toString
    rows.toDF("event_id", "ts_s", "user_id", "value")
      .select(col("event_id"), timestamp_seconds(col("ts_s")).as("ts"),
        col("user_id"), col("value"))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(dir, f"batch$i%02d.parquet")
    Files.move(part.toPath, dst.toPath)
    dst.setLastModified(1000000L * (i + 1))
  }

  test("pending event exactly at the final watermark is flushed") {
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    // e1 at t=10 s; e2 at t=25 s pushes the final watermark to
    // exactly 25 - 15 = 10 s == e1's event time. The oracle cutoff
    // (ts <= max - delay) includes e1; e2 stays withheld.
    val dir = Files.createTempDirectory("graft_hb_stream").toFile
    dir.deleteOnExit()
    writeBatchFile(dir, 0, Seq((1L, 10L, 1L, 3.0)))
    writeBatchFile(dir, 1, Seq((2L, 25L, 1L, 5.0)))
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("value", DoubleType)))
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val out = graft.streaming.StreamingQueries
      .rangeStateTransform(spark, src, held = true)
    val name = s"hb_sink_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try q.processAllAvailable() finally { q.stop(); q.awaitTermination() }
    val got = spark.table(name).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    spark.catalog.dropTempView(name)
    assert(got === Map(1L -> 3.0),
      s"event at the exact final watermark must flush (got $got)")
  }
}
