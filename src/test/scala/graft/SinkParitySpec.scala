package graft

import graft.streaming.StreamingQueries
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The file-sink snapshot path (SPARK_GRAFT_STREAM_SINK=file /
  * sinkModeOverride) must change WHERE a drained stream's snapshot
  * lives — a distributed parquet read-back instead of the memory
  * sink's driver-side O(output) collect — and nothing about WHAT it
  * holds. Asserted as multiset equality per query, covering each sink
  * wiring the file path has: Append via the parquet file sink's
  * transaction log (stateful q29; null-emitting outer join q125) and
  * Complete via the per-batch foreachBatch overwrite (session windows
  * q75). The full 10-query family runs both ways in
  * `ScaleStress <dir> <R> streamparity`; this spec pins the three
  * wiring shapes into the sbt gate at test scale.
  */
class SinkParitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private def withSink[A](sink: String)(f: => A): A = {
    StreamingQueries.sinkModeOverride = Some(sink)
    try f finally StreamingQueries.sinkModeOverride = None
  }

  private def assertParity(name: String): Unit = {
    val fn = SparkEntry.queries(name)
    val mem: DataFrame = withSink("memory") { fn(spark, sf) }
    val fil: DataFrame = withSink("file") { fn(spark, sf) }
    val (nm, nf) = (mem.count(), fil.count())
    assert(nm === nf, s"$name row counts differ: memory $nm vs file $nf")
    assert(nm > 0, s"$name produced no rows — parity would be vacuous")
    assert(mem.exceptAll(fil).count() === 0L,
      s"$name has rows only the memory sink produced")
    assert(fil.exceptAll(mem).count() === 0L,
      s"$name has rows only the file sink produced")
    // snapshot fully compared — reclaim the sink + checkpoint scratch
    // (ADVICE r10: un-reclaimed dirs are output-sized per query)
    StreamingQueries.cleanupFileSinkDirs()
  }

  test("q29 append-mode stateful stream: file sink == memory sink") {
    assertParity("q29_stream_range_state")
  }

  test("q125 append-mode full-outer join (null rows): file sink == memory sink") {
    assertParity("q125_stream_full_join")
  }

  test("q75 complete-mode session windows: foreachBatch overwrite == memory sink") {
    assertParity("q75_stream_session_window")
  }

  test("file-sink snapshot is a distributed scan, not a local collection") {
    val fil = withSink("file") {
      SparkEntry.queries("q29_stream_range_state")(spark, sf)
    }
    // The memory path returns a LocalRelation-backed frame (rows
    // already on the driver); the file path must plan as a parquet
    // FileScan so the snapshot never materializes driver-side.
    val plan = fil.queryExecution.optimizedPlan.toString
    assert(plan.contains("Relation") && plan.toLowerCase.contains("parquet"),
      s"expected a parquet relation in the file-sink snapshot plan:\n$plan")
    assert(!plan.contains("LocalRelation"),
      s"file-sink snapshot collapsed to a LocalRelation:\n$plan")
    StreamingQueries.cleanupFileSinkDirs()
  }
}
