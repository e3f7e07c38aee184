package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{CosineSim, Hashing, SortedIntersectCount, TextFunctions}

/** Layer measurements made in isolation, after the timed pass of a
  * traced run: the native kernels' throughput on the run's corpus, the
  * table loaders and the IVF index build.
  */
object Kernels {
  /** The corpus is replicated to this many rows so a kernel's time, not
    * a job's fixed cost, dominates its measurement.
    */
  val KernelRows = 200000L
  val Repeats = 3

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Rows per second of `f` over `input` (cached), median of repeats. */
  private def rate(input: DataFrame, f: DataFrame => DataFrame): Double = {
    val n = input.count().toDouble
    val walls = (1 to Repeats).map { _ =>
      val t0 = System.nanoTime()
      noop(f(input))
      (System.nanoTime() - t0) / 1e9
    }
    n / Stats.median(walls)
  }

  private def replicated(df: DataFrame): DataFrame = {
    val n = math.max(1L, df.count())
    val times = math.max(1L, KernelRows / n)
    df.crossJoin(df.sparkSession.range(times).withColumnRenamed("id", "rep"))
      .repartition(Session.cpus).cache()
  }

  def functions(spark: SparkSession, dir: String): Map[String, Double] = {
    val docs = replicated(graft.Tables.documents(spark, dir).select("doc_id", "text"))
    val shingled = docs.select(col("doc_id"), TextFunctions.tokens(col("text")).as("sh"))
      .filter(size(col("sh")) > 0).cache()
    val hashed = shingled.select(col("doc_id"),
      array_sort(array_distinct(transform(col("sh"), x => xxhash64(x)))).as("hs")).cache()
    val pairs = hashed.select(col("hs").as("a"), lead(col("hs"), 1).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id") % 64).orderBy("doc_id"))
      .as("b")).filter(col("b").isNotNull).cache()
    val emb = graft.Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val probes = emb.orderBy("vec_id").limit(16).select(col("embedding").as("q"))
    val embPairs = replicated(emb.crossJoin(probes))
    val out = Map(
      "functions.tokens_rps" -> rate(docs, _.select(TextFunctions.tokens(col("text")))),
      "functions.minhash_rps" -> rate(shingled, Hashing.minHashSignatures(_, "doc_id", "sh")),
      "functions.simhash_rps" -> rate(shingled, Hashing.simHashes(_, "doc_id", "sh")),
      "functions.cosine_rps" -> rate(embPairs, _.select(CosineSim(col("embedding"), col("q")))),
      "functions.intersect_rps" -> rate(pairs, _.select(SortedIntersectCount(col("a"), col("b")))))
    Seq(docs, shingled, hashed, pairs, embPairs).foreach(_.unpersist())
    out
  }

  def layer(spark: SparkSession, a: Args): Map[String, Double] = {
    val tablesDir = Batch.copyOf(a.data, a.work, "copy-tables")
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    val t0 = System.nanoTime()
    tables.foreach(t => graft.Tables(spark, tablesDir, t).schema)
    val openS = (System.nanoTime() - t0) / 1e9
    val annDir = Batch.copyOf(a.data, a.work, "copy-ann")
    val t1 = System.nanoTime()
    graft.queries.IvfAnn.index(spark, annDir)
    val indexS = (System.nanoTime() - t1) / 1e9
    functions(spark, a.data) ++ Map("tables.open_s" -> openS, "ann.index_s" -> indexS)
  }
}
