package graft.queries

import graft.Tables
import graft.functions.CosineSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search q39–q40 (SURVEY.md §2). Query set: the 10
  * vectors with vec_id < 10 (deterministic). Also the embedding-table
  * operators: per-label centroids (q80) and int8 quantization (q118).
  */
object AnnQueries {

  val K = 10

  // ---------------------------------------------------------------- q39
  /** Brute-force cosine top-k — the exact baseline. Scale shape:
    * queries broadcast (small side), corpus streamed once; top-k is
    * two-phase (per-salt partial top-k, then final top-k) so no single
    * reducer ever sees more than k×salts rows per query — a global
    * sort-limit would shuffle the whole corpus to one partition per
    * query at 100 TB.
    */
  private def q39(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val scored = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        CosineSim(col("embedding"), col("q_emb")).as("cos"))
    val salted = scored.withColumn("salt", pmod(col("neighbor_id"), lit(16)))
    val w1 = Window.partitionBy("query_id", "salt")
      .orderBy(col("cos").desc, col("neighbor_id"))
    val partial = salted
      .withColumn("prn", row_number().over(w1)).filter(col("prn") <= K)
    val w2 = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    partial
      .withColumn("rank", row_number().over(w2)).filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .orderBy("query_id", "rank")
  }

  private val q39Sql =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
       |           FROM embeddings WHERE vec_id < 10),
       |pairs AS (
       |  SELECT q.query_id, v.vec_id AS neighbor_id,
       |         list_cosine_similarity(v.embedding, q.q_emb) AS cos
       |  FROM embeddings v CROSS JOIN q
       |  WHERE v.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |              ORDER BY cos DESC, neighbor_id) AS INT) AS rank
       |  FROM pairs)
       |SELECT query_id, neighbor_id, rank FROM ranked
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- q40
  /** LSH-bucketed ANN: 4 tables × 6-bit hyperplane codes; candidates =
    * bucket collisions in any table; exact cosine re-rank of the
    * (small) candidate set. Recall vs q39 asserted in AnnSpec.
    * Rows-only: approximate results have no SQL oracle.
    *
    * The dedup across tables runs on (query_id, neighbor_id) id pairs
    * only — embeddings are re-attached after the distinct, so no
    * exchange ever carries vector payloads (at 100 TB a distinct over
    * embedding-carrying rows would shuffle the candidate vectors 4×).
    */
  private def q40(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val coded = emb.select(col("vec_id"),
      posexplode(Lsh.srpCodes(col("embedding"), tables = 4, bits = 6))
        .as(Seq("tbl", "code")))
    val queries = coded.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("tbl"), col("code"))
    val cands = coded.join(broadcast(queries), Seq("tbl", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    val queryEmb = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    emb.withColumnRenamed("vec_id", "neighbor_id")
      .join(broadcast(cands), Seq("neighbor_id")) // corpus pruned by id set
      .join(broadcast(queryEmb), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        CosineSim(col("embedding"), col("q_emb")).as("cos"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- q80
  /** Per-label embedding centroids: element-wise mean over each
    * label's vectors — the class-centroid computation behind nearest-
    * centroid classification, IVF coarse init, and drift monitoring.
    * Shape: posexplode to (label, pos, v) scalars → partial-agg mean
    * per (label, pos). The shuffle carries labels × dims partial sums
    * per task — independent of corpus size; no vector ever crosses
    * the wire whole. Output is flat (label, pos) rows: deterministic,
    * array-free (driver-comparator-safe), and exactly what a
    * downstream broadcast join consumes.
    */
  private def q80(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(round(avg(col("v")), 6).as("centroid"), count(lit(1)).as("n_vecs"))
      .orderBy("label", "pos")

  private val q80Sql =
    """SELECT label, CAST(i - 1 AS INT) AS pos,
      |       ROUND(AVG(embedding[i]), 6) AS centroid,
      |       COUNT(*) AS n_vecs
      |FROM embeddings, range(1, 65) t(i)
      |GROUP BY label, pos ORDER BY label, pos""".stripMargin

  // --------------------------------------------------------------- q118
  /** Per-dimension min/max scalar quantization to uint8 codes.
    * Stats pass: posexplode → (dim, min, max) — a 64-row aggregate,
    * broadcast back. Quantize pass: row-local rescale + round per
    * dim, re-assembled in dim order. The corpus shuffles once for the
    * stats (partial-agg on 64 keys) and never again; codes ship as
    * JSON (array-typed result columns crash the driver comparator).
    * Rounding parity: both engines evaluate the identical double
    * expression ((x-min)/(max-min)*255) and HALF_UP-round it, so the
    * codes are bit-deterministic cross-engine.
    */
  private def q118(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val dims = emb
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(min(col("x").cast("double")).as("lo"),
        max(col("x").cast("double")).as("hi"))
    // The stats table is DIMENSION-sized (bounded by the embedding
    // width, not the corpus) — collect it once and apply the
    // quantization as a map-side indexed transform over the stored
    // array. The previous form re-exploded every vector into D rows,
    // joined the stats and re-grouped by vec_id to rebuild the array:
    // that second shuffle carried D rows PER VECTOR (plus a per-group
    // sort) — at 100 TB, the dominant exchange of the query, now gone
    // entirely. Same double expression and HALF_UP rounding, so the
    // codes stay bit-identical to the oracle's.
    val st = dims.orderBy("dim").collect()
    val lo = typedLit(st.map(_.getDouble(1)).toSeq)
    val hi = typedLit(st.map(_.getDouble(2)).toSeq)
    // Cardinality parity on degenerate rows: the oracle's unnest path
    // (and the old posexplode form) emits NO row for a null/empty
    // embedding, while a bare transform would keep it with null/"[]"
    // codes. size() is -1 for null, so one predicate covers both.
    emb
      .filter(size(col("embedding")) > 0)
      .select(col("vec_id"),
        to_json(transform(col("embedding"), (x, i) =>
          round((x.cast("double") - element_at(lo, i + 1)) /
              (element_at(hi, i + 1) - element_at(lo, i + 1)) * 255, 0)
            .cast("int"))).as("codes"))
      .orderBy("vec_id")
  }

  private val q118Sql =
    """WITH flat AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
      |         CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |stats AS (
      |  SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM flat GROUP BY dim),
      |coded AS (
      |  SELECT vec_id, f.dim,
      |         CAST(ROUND((x - lo) / (hi - lo) * 255, 0) AS INT) AS q
      |  FROM flat f JOIN stats s ON f.dim = s.dim)
      |SELECT vec_id,
      |       CAST(to_json(list(q ORDER BY dim)) AS VARCHAR) AS codes
      |FROM coded GROUP BY vec_id ORDER BY vec_id""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q39_ann_brute", q39, Some(q39Sql)),
    Query("q40_ann_lsh", q40, None),
    Query("q80_label_centroid", q80, Some(q80Sql)),
    Query("q118_embed_quantize", q118, Some(q118Sql)))
}
