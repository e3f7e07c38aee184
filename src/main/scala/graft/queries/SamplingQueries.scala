package graft.queries

import graft.Tables
import graft.functions.BottomKSample
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic sampling and splitting: stratified sampling (q60),
  * train/val/test split (q72), minority oversampling (q73), mixture
  * reweighting (q97) and bounded per-group sampling (q126). Every keep
  * decision is a pure function of a stable row key, so results are
  * reproducible across engines, runs, partitionings and resumed jobs.
  */
object SamplingQueries {

  // ---------------------------------------------------------------- q60
  /** Deterministic stratified sampling: per-language sampling rates
    * over the documents table (downsample the dominant stratum, keep
    * the rest), keyed on `doc_id % 100` so the decision is a pure
    * row-local function — reproducible across engines, runs,
    * partitionings, and resumed jobs, and embarrassingly parallel at
    * 100 TB (no shuffle; the filter pushes to the scan). In
    * production the modulus runs on a uniform hash of a stable key
    * (`xxhash64(doc_id)`); plain mod here because the oracle engine
    * has no xxhash64, and testdata ids are already uniform.
    */
  private def q60(s: SparkSession, dir: String): DataFrame = {
    val rate = typedLit(Map("en" -> 20, "de" -> 50, "fr" -> 50,
      "es" -> 50, "zh" -> 100))
    Tables.documents(s, dir)
      .withColumn("keep_pct",
        coalesce(element_at(rate, col("lang")), lit(100)))
      .filter(pmod(col("doc_id"), lit(100)) < col("keep_pct"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
      .orderBy("lang")
  }

  private val q60Sql =
    """SELECT lang, COUNT(*) AS n_kept,
      |       CAST(SUM(n_chars) AS BIGINT) AS chars_kept
      |FROM documents
      |WHERE doc_id % 100 <
      |  CASE lang WHEN 'en' THEN 20 WHEN 'de' THEN 50 WHEN 'fr' THEN 50
      |            WHEN 'es' THEN 50 WHEN 'zh' THEN 100 ELSE 100 END
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q72
  /** Deterministic train/val/test split: a multiplicative-mixed hash
    * of the stable row key mod 1000 buckets → 80/10/10. Pure row-local
    * decision (reproducible across engines, runs, partitionings,
    * resumed jobs); the only shuffle is the 3-group rollup. At 100 TB
    * the assignment is free at scan time and the split is stable under
    * re-sharding — the property shuffled-file splits don't have.
    */
  private def q72(s: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(col("doc_id") * lit(2654435761L), lit(1000L))
    Tables.documents(s, dir)
      .withColumn("split",
        when(bucket < 800, "train").when(bucket < 900, "val").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy("split")
  }

  private val q72Sql =
    """SELECT CASE WHEN (doc_id * 2654435761) % 1000 < 800 THEN 'train'
      |            WHEN (doc_id * 2654435761) % 1000 < 900 THEN 'val'
      |            ELSE 'test' END AS split,
      |       COUNT(*) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS chars,
      |       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      |FROM documents GROUP BY split ORDER BY split""".stripMargin

  // ---------------------------------------------------------------- q73
  /** Minority-stratum oversampling: replicate documents of
    * underrepresented languages by a per-language factor
    * (explode over a generated 1..k sequence → one row per copy with
    * its copy index). Row-local expansion — no shuffle at all; at
    * 100 TB the write amplification is the sampling policy itself,
    * and the copy index gives downstream shuffling/packing a
    * deterministic discriminator.
    */
  private def q73(s: SparkSession, dir: String): DataFrame = {
    val factor = coalesce(
      element_at(typedLit(Map("zh" -> 3, "de" -> 2)), col("lang")), lit(1))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1), factor)).as("copy_idx"))
      .orderBy("doc_id", "copy_idx")
  }

  private val q73Sql =
    """SELECT doc_id, lang,
      |       CAST(unnest(generate_series(1,
      |         CASE lang WHEN 'zh' THEN 3 WHEN 'de' THEN 2 ELSE 1 END)) AS INT)
      |         AS copy_idx
      |FROM documents ORDER BY doc_id, copy_idx""".stripMargin

  // ---------------------------------------------------------------- q97
  /** Dataset mixture sampling (domain reweighting): each source gets a
    * target keep-rate and rows are kept by a deterministic multiplicative
    * hash of the row id — row-local, re-shard-stable, no shuffle before
    * the per-source audit rollup. This is how a 100 TB pretraining mix
    * is actually cut: the keep decision must be a pure row function so
    * any executor can evaluate it independently, and the audit agg is
    * partial. Rates derive from the source index (cycle 20..84) so the
    * query is SF-independent.
    */
  private def q97(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        (lit(20) + lit(16) * (substring(col("source"), 4, 10).cast("int") % 5))
          .as("rate"))
      .withColumn("keep", pmod(col("doc_id") * lit(2654435761L), lit(100L)) < col("rate"))
      .groupBy(col("source"), col("rate"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_chars")).otherwise(0L)).as("chars_kept"))
      .orderBy("source")

  private val q97Sql =
    """SELECT source,
      |       20 + 16 * (CAST(SUBSTR(source, 4) AS INT) % 5) AS rate,
      |       CAST(COUNT(*) AS BIGINT) AS n_total,
      |       CAST(SUM(CASE WHEN (doc_id * 2654435761) % 100 <
      |                          20 + 16 * (CAST(SUBSTR(source, 4) AS INT) % 5)
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       CAST(SUM(CASE WHEN (doc_id * 2654435761) % 100 <
      |                          20 + 16 * (CAST(SUBSTR(source, 4) AS INT) % 5)
      |                     THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q126
  /** Deterministic bounded per-group sampling via the native
    * [[graft.functions.BottomKSample]] aggregate — "keep k pseudorandom
    * docs per source" in one aggregation pass with k-bounded mergeable
    * buffers (the exchange carries ≤ k longs per partition-group, not
    * the group's rows). Oracle: the hash is a wrapping 64-bit multiply
    * by an odd constant, so DuckDB replicates it exactly with HUGEINT
    * modular arithmetic and ranks with a window — same ids, same
    * order, hash-checked.
    */
  private def q126(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    val sample = GraftSqlBridge.column(
      BottomKSample(GraftSqlBridge.expression(col("doc_id")), 10)
        .toAggregateExpression())
    Tables.documents(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sample.as("ids"))
      // array columns ship as JSON strings (driver comparator contract)
      .select(col("source"), col("n_docs"), to_json(col("ids")).as("sample_ids"))
      .orderBy("source")
  }

  private val q126Sql =
    """WITH u AS (
      |  SELECT source, doc_id,
      |         (CAST(doc_id AS HUGEINT) * 11400714819323198485::HUGEINT)
      |           % 18446744073709551616::HUGEINT AS uh
      |  FROM documents),
      |h AS (
      |  SELECT source, doc_id,
      |         CAST(CASE WHEN uh >= 9223372036854775808::HUGEINT
      |              THEN uh - 18446744073709551616::HUGEINT
      |              ELSE uh END AS BIGINT) AS sh
      |  FROM u),
      |p AS (
      |  SELECT source, doc_id, sh,
      |         row_number() OVER (PARTITION BY source ORDER BY sh) AS rn
      |  FROM h),
      |c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source)
      |SELECT c.source, c.n_docs,
      |       CAST(to_json(list(p.doc_id ORDER BY p.sh)) AS VARCHAR) AS sample_ids
      |FROM p JOIN c ON p.source = c.source
      |WHERE p.rn <= 10
      |GROUP BY c.source, c.n_docs
      |ORDER BY c.source""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q60_stratified_sample", q60, Some(q60Sql)),
    Query("q72_train_split", q72, Some(q72Sql)),
    Query("q73_oversample", q73, Some(q73Sql)),
    Query("q97_mixture_sample", q97, Some(q97Sql)),
    Query("q126_group_sample", q126, Some(q126Sql)))
}
