package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM is forked per test
  * run; suites share it to avoid per-suite startup cost).
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Run `f` on a new session whose stream checkpoints go under a fresh
    * root directory (Spark keeps a checkpoint under a named root after
    * the stream stops; it deletes only its own temporary ones). The
    * root is deleted after `f`.
    */
  def withCheckpointRoot[A](f: (SparkSession, java.io.File) => A): A = {
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt_root").toFile
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.checkpointLocation", root.getPath)
    try f(s, root) finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }
}
