package graft

import graft.queries.{DedupQueries, IvfAnn}
import graft.streaming.StreamingQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Memo]]'s contract on small temp corpora cut from the test scale
  * dir: a stage is rebuilt when its input files change, `release`
  * frees exactly one dir's stages, a hit runs no Spark job, and no
  * query result depends on which query ran before it.
  */
class MemoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** (Over)write `dir`'s documents and embeddings: the rows of the
    * scale dir whose id is below `n`.
    */
  private def corpus(dir: String, n: Long): Unit = {
    def put(table: String, id: String): Unit =
      spark.read.parquet(s"$sf/$table.parquet").filter(col(id) < n)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$table.parquet")
    put("documents", "doc_id")
    put("embeddings", "vec_id")
  }

  private def run(name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  private def ivf(dir: String): (Set[(Any, Any)], Seq[Seq[Double]]) = {
    val (assigned, centers) = IvfAnn.index(spark, dir)
    (assigned.select("vec_id", "cell").collect().map(r => (r.get(0), r.get(1))).toSet,
      centers.map(_.toSeq).toSeq)
  }

  test("a rewrite in place rebuilds q35's pairs, q102's labels and the IVF " +
      "index: each equals the same call on a fresh copy of the new data") {
    val dir = tmpDir("graft_memo_rewrite")
    val copy = tmpDir("graft_memo_copy")
    corpus(dir, 300)
    val oldPairs = rows(run("q35_dedup_minhash", dir))
    run("q102_dedup_cluster", dir).count()
    ivf(dir)
    corpus(dir, 500)
    corpus(copy, 500)
    val newPairs = rows(run("q35_dedup_minhash", dir))
    assert(newPairs !== oldPairs, "the rewrite must change q35's answer")
    assert(newPairs === rows(run("q35_dedup_minhash", copy)))
    assert(rows(run("q102_dedup_cluster", dir)) ===
      rows(run("q102_dedup_cluster", copy)))
    assert(ivf(dir) === ivf(copy))
    Memo.release(dir)
    Memo.release(copy)
  }

  test("release frees every stage of its dir and leaves another dir's alive") {
    val a = tmpDir("graft_memo_a")
    val b = tmpDir("graft_memo_b")
    corpus(a, 500)
    corpus(b, 300)
    val others = Memo.rddIds
    DedupQueries.nearDupPairs(spark, b)
    val held = Memo.rddIds
    val ofB = held -- others
    // each stage of `a` adds the blocks it holds
    Seq[() => Any](
      () => DedupQueries.nearDupPairs(spark, a),
      () => run("q102_dedup_cluster", a).count(),
      () => DedupQueries.incrementalIndex(spark, a),
      () => DedupQueries.incrementalPairs(spark, a),
      () => StreamingQueries.streamNearDupPairs(spark, a),
      () => IvfAnn.index(spark, a)).foldLeft(held) { (before, build) =>
      build()
      val after = Memo.rddIds
      assert(after.size > before.size)
      after
    }
    val ofA = Memo.rddIds -- held
    Memo.release(a)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    assert((ofA & persisted).isEmpty, s"still persisted: ${ofA & persisted}")
    assert(Memo.rddIds === held)
    assert(ofB.nonEmpty && ofB.subsetOf(persisted))
    RoundStats.drain()
    DedupQueries.nearDupPairs(spark, b)
    assert(RoundStats.drain().map(_.tag) === Seq("near_dup_pairs_memo_hit"))
    Memo.release(b)
  }

  test("a memo hit runs no Spark job: warm incrementalPairs and " +
      "streamNearDupPairs") {
    val dir = tmpDir("graft_memo_warm")
    corpus(dir, 500)
    DedupQueries.incrementalPairs(spark, dir)
    StreamingQueries.streamNearDupPairs(spark, dir)
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      // listener delivery is async; quiesce the bus around the calls
      org.apache.spark.sql.GraftSqlBridge.waitForListeners(spark.sparkContext)
      val j0 = jobs.get()
      RoundStats.drain()
      DedupQueries.incrementalPairs(spark, dir)
      StreamingQueries.streamNearDupPairs(spark, dir)
      org.apache.spark.sql.GraftSqlBridge.waitForListeners(spark.sparkContext)
      assert(RoundStats.drain().map(_.tag).toSet ===
        Set("incr_pairs_memo_hit", "stream_feats_memo_hit"))
      assert(jobs.get() === j0, "a memo hit scheduled a Spark job")
    } finally spark.sparkContext.removeSparkListener(l)
    Memo.release(dir)
  }

  test("run order: q35 run cold is hash-identical to q35 run after q102") {
    def digest(df: DataFrame): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      df.collect().foreach(r => md.update((r.mkString("\u0001") + "\n").getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString
    }
    val cold = tmpDir("graft_memo_cold")
    val after = tmpDir("graft_memo_after")
    corpus(cold, 500)
    corpus(after, 500)
    val h1 = digest(run("q35_dedup_minhash", cold))
    run("q102_dedup_cluster", after).count()
    assert(digest(run("q35_dedup_minhash", after)) === h1)
    Memo.release(cold)
    Memo.release(after)
  }
}
