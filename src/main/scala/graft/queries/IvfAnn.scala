package graft.queries

import graft.Tables
import graft.functions.{CosineSim, NearestCell}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the standard
  * 100 TB scale path for similarity search (SURVEY.md §2 q51).
  *
  * Index (one-time, decoupled from the query):
  *  - the coarse quantizer is fit on a bounded deterministic SAMPLE of
  *    the corpus (k-means needs only enough points to place k
  *    centroids — fitting on all of 100 TB would be an unbounded
  *    training job inside a query);
  *  - every vector is assigned to its nearest centroid cell in one
  *    scan, and the assignment is persisted and memoized per corpus
  *    dir (at real scale this is a write-once bucketed/partitioned
  *    table keyed by cell, cf. Sources.writeBucketed).
  *
  * Search: a query probes only its `nprobe` nearest cells — the
  * corpus join is an equi-join on cell id over ~nprobe/k of the data,
  * instead of a full scan. Exact cosine re-rank inside the probed
  * cells.
  */
object IvfAnn {

  val K = 10         // neighbors returned
  val Cells = 16     // coarse centroids
  val NProbe = 4     // cells probed per query
  /** Fit-sample row cap — CORPUS-SIZE-INDEPENDENT. k-means placing
    * `Cells` centroids needs O(Cells × hundreds) points, full stop; a
    * fractional sample (any fixed 1-in-m) scales with the corpus and
    * turns the driver collect into the bottleneck at 100 TB. 256
    * points per target cell is comfortably past k-means++ saturation.
    */
  val SampleCap: Int = Cells * 256

  /** Build (or fetch) the IVF index for a corpus dir: (assigned
    * vectors persisted, centroids), a [[graft.Memo]] stage over
    * `embeddings`.
    */
  def index(s: SparkSession, dir: String): (DataFrame, Array[Array[Double]]) =
    graft.Memo(s, "ivf_index", dir, "embeddings") {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      // The fit is DRIVER-SIDE Lloyd's over the collected sample: the
      // sample is bounded by design (that is the whole point of
      // sampling before the fit), so a cluster-side iterative fit —
      // Spark-ML KMeans launched ~2 jobs per iteration plus
      // UDF/Vector conversions — was pure job-launch overhead
      // (measured 1.8-2.0 s of q51's 2.7 s wall at sf0.1). Collecting
      // the sample is one scan-thin job; the Lloyd's loop itself is
      // microseconds of driver math. Seeded k-means++ init keeps the
      // index deterministic across runs and partitionings.
      val centers = {
        // Deterministic hash-ordered top-SampleCap: the collect is
        // bounded by a fixed ROW COUNT, never a corpus fraction (a
        // 1-in-m fraction is corpus-proportional — ~25 TB through the
        // driver at 100 TB). orderBy+limit plans as
        // TakeOrderedAndProject: each scan partition keeps at most
        // SampleCap rows in a bounded heap and the driver merges —
        // one scan-thin job, no shuffle. Ordering by (xxhash64(id),
        // id) makes the selected set AND its order stable across
        // runs/partitionings (unlike .sample or bare .limit), and is
        // an unbiased uniform draw because the hash is uniform on ids.
        val sample = fitSample(emb).collect()
          .map(_.getSeq[Float](0).toArray)
        localKMeans(sample, Cells, iters = 8, seed = 7L)
      }
      // Assignment: ONE codegen'd scan with the centroid table carried
      // into the generated code (functions/NearestCell) — no ML
      // pipeline in the per-row path.
      val assigned = {
        val a = emb
          .select(col("vec_id"), col("embedding"),
            NearestCell(col("embedding"), centers).as("cell"))
          .persist()
        a.count() // materialize once, off the query's critical path
        a
      }
      (assigned, centers.map(_.map(_.toDouble)))
    }(ix => Seq(ix._1))

  /** The bounded fit-sample plan (factored out so AnnSpec can pin its
    * shape): hash-ordered top-SampleCap over (vec_id, embedding).
    * Must plan as TakeOrderedAndProject — bounded per-partition heaps,
    * single-reducer merge of the per-partition top-k, driver receives
    * ≤ SampleCap rows — NEVER a full-scan collect. At extreme scan
    * partition counts (~10^6 at 100 TB) the merge task streams
    * partitions × SampleCap rows; if that single reducer ever
    * bottlenecks, the standard fix is a two-level top-k (coalesce to
    * √P before the final take) — the per-partition heaps and the
    * driver bound are unchanged by it.
    */
  private[graft] def fitSample(emb: DataFrame): DataFrame = {
    // The TakeOrderedAndProject plan only materializes while the limit
    // stays under spark.sql.execution.topKSortFallbackThreshold
    // (default 10000); past it, Spark silently falls back to a global
    // sort + shuffle — exactly the unbounded shape this sample exists
    // to avoid. SampleCap (4096) and the threshold are otherwise
    // uncoupled, so fail loudly if a config change or a future Cells
    // bump ever crosses them.
    val topKThreshold = emb.sparkSession.conf
      .get("spark.sql.execution.topKSortFallbackThreshold", "10000").toInt
    require(SampleCap < topKThreshold,
      s"IVF fit SampleCap=$SampleCap must stay under " +
        s"topKSortFallbackThreshold=$topKThreshold or the bounded " +
        "TakeOrderedAndProject fit collect degrades to a global sort")
    emb.orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(SampleCap)
      .select(col("embedding"))
  }

  /** Seeded k-means++ init + Lloyd's iterations, entirely driver-side
    * (the sample is bounded by design; see [[index]]). Assignment uses
    * strict `<` first-min tie-break — the same rule as [[NearestCell]]
    * — so the fit's view of the cells and the distributed assignment
    * scan agree exactly. An emptied cluster keeps its previous center.
    */
  private[graft] def localKMeans(points: Array[Array[Float]], k: Int,
      iters: Int, seed: Long): Array[Array[Float]] = {
    require(points.nonEmpty, "IVF fit sample is empty")
    val rng = new scala.util.Random(seed)
    val dim = points(0).length
    def d2(x: Array[Float], c: Array[Float]): Double = {
      val n = math.min(x.length, c.length)
      var d = 0.0; var i = 0
      while (i < n) {
        val t = x(i).toDouble - c(i).toDouble; d += t * t; i += 1
      }
      d
    }
    val kEff = math.min(k, points.length)
    // k-means++ seeding: next center sampled ∝ distance² to the
    // nearest already-chosen center
    val centers = scala.collection.mutable.ArrayBuffer(
      points(rng.nextInt(points.length)).clone())
    while (centers.length < kEff) {
      val dists = points.map(p => centers.map(c => d2(p, c)).min)
      val total = dists.sum
      if (total == 0.0) {
        // all remaining points coincide with a center: duplicate one
        centers += centers(0).clone()
      } else {
        var r = rng.nextDouble() * total
        var i = 0
        while (i < points.length - 1 && r >= dists(i)) { r -= dists(i); i += 1 }
        centers += points(i).clone()
      }
    }
    for (_ <- 1 to iters) {
      val sums = Array.fill(kEff)(new Array[Double](dim))
      val counts = new Array[Long](kEff)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < kEff) {
          val d = d2(p, centers(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < math.min(dim, p.length)) { sums(best)(i) += p(i); i += 1 }
      }
      for (c <- 0 until kEff if counts(c) > 0) {
        val m = new Array[Float](dim)
        var i = 0
        while (i < dim) { m(i) = (sums(c)(i) / counts(c)).toFloat; i += 1 }
        centers(c) = m
      }
    }
    centers.toArray
  }

  def q51(s: SparkSession, dir: String): DataFrame = {
    val (assigned, centers) = index(s, dir)

    // Query → nprobe nearest cells (tiny: |queries| × Cells, driver-side)
    val queries = Tables.embeddings(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def dist2(x: Array[Double], c: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < math.min(x.length, c.length)) {
        val t = x(i) - c(i); d += t * t; i += 1
      }
      d
    }
    val probes = for {
      (qid, qv) <- queries.toSeq
      cell <- centers.zipWithIndex
        .map { case (c, i) => (dist2(qv, c), i) }
        .sortBy(_._1).take(NProbe).map(_._2)
    } yield (qid, cell)
    import s.implicits._
    val probeDf = probes.toDF("query_id", "cell")
    val queryEmb = Tables.embeddings(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    assigned
      .join(broadcast(probeDf), Seq("cell")) // prune to probed cells
      .join(broadcast(queryEmb), Seq("query_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        CosineSim(col("embedding"), col("q_emb")).as("cos"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
      .orderBy("query_id", "rank")
  }

  val queries: Seq[Query] = Seq(
    Query("q51_ann_ivf", q51, None))
}
