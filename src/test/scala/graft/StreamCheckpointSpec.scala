package graft

import graft.streaming.StreamingQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

/** Bounded drains checkpoint through Spark's FileSystem-based manager
  * when the checkpoint is local (Spark's default renames through
  * `FileContext`, which forks `readlink` per rename without Hadoop's
  * native library). The pin is scoped to the query's start, keeps
  * every checkpoint artifact, and changes no result.
  */
class StreamCheckpointSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf
  private val key = "spark.sql.streaming.checkpointFileManagerClass"
  private val fsManager = "org.apache.spark.sql.execution.streaming." +
    "checkpointing.FileSystemBasedCheckpointFileManager"
  private val fcManager = "org.apache.spark.sql.execution.streaming." +
    "checkpointing.FileContextBasedCheckpointFileManager"

  /** Runs q47, returning its rows and the manager class the session
    * named when the query started (start events are delivered
    * synchronously, before `start()` returns).
    */
  private def q47(): (Seq[String], Option[String]) = {
    @volatile var atStart: Option[String] = None
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        atStart = spark.conf.getOption(key)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(l)
    try (rows(SparkEntry.queries("q47_stream_dedup")(spark, sf)), atStart)
    finally spark.streams.removeListener(l)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq

  test("q47 drain pins the FileSystem manager and restores an unset conf") {
    assert(spark.conf.getOption(key).isEmpty)
    val (_, atStart) = q47()
    assert(atStart === Some(fsManager))
    assert(spark.conf.getOption(key).isEmpty, s"$key leaked into the session")
  }

  test("a preset manager is kept, restored, and gives identical output") {
    val (pinned, _) = q47()
    spark.conf.set(key, fcManager)
    val (preset, atStart) =
      try q47()
      finally {
        assert(spark.conf.getOption(key) === Some(fcManager))
        spark.conf.unset(key)
      }
    assert(atStart === Some(fcManager))
    // Spark's default manager and the pinned one: the same rows, which
    // are the batch DISTINCT the stream must equal
    assert(pinned === preset)
    val batch = Tables.events(spark, sf).select("user_id", "event_type")
      .distinct().orderBy("user_id", "event_type")
    assert(pinned === rows(batch))
  }

  test("the drained checkpoint keeps state-store checksums and .crc files") {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    SparkTestSession.withCheckpointRoot { (s, root) =>
      val snap = SparkEntry.queries("q47_stream_dedup")(s, sf)
      assert(snap.count() > 0)
      val ckpt = walk(root)
      val names = ckpt.map(_.getName)
      val state = ckpt.filter(_.getPath.contains("/state/")).map(_.getName)
      // Hadoop's local filesystem: a hidden `.<file>.crc` per file
      assert(names.exists(n => n.startsWith(".") && n.endsWith(".crc")),
        s"no Hadoop .crc files in ${names.distinct.take(20)}")
      // Spark's checkpoint checksums: a visible `<file>.crc`
      assert(state.exists(n => !n.startsWith(".") && n.endsWith(".crc")),
        s"no state-store checksum files in ${state.distinct.take(20)}")
      assert(s.conf.getOption(key).isEmpty)
    }
  }

  test("only a local checkpoint path gets the FileSystem manager") {
    val conf = new org.apache.hadoop.conf.Configuration()
    def pick(p: String) = StreamingQueries.checkpointFileManager(p, conf)
    assert(pick("/tmp/x") === Some(fsManager))
    assert(pick("file:///tmp/x") === Some(fsManager))
    assert(pick("target/ckpt/q") === Some(fsManager))
    assert(pick("hdfs://nn/x") === None)
    assert(pick("s3a://bucket/x") === None)
    // a scheme-less path resolves against the default filesystem
    conf.set("fs.defaultFS", "hdfs://nn:8020")
    assert(pick("/tmp/x") === None)
  }
}
