package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract. The query inventory is [[registry]]: one
  * [[graft.queries.Query]] record per operator, declared in the module
  * that owns its operator family.
  */
object SparkEntry {

  /** The session every graft main runs on: `local[cores]` with `cores`
    * shuffle partitions, UTC, no UI, WARN logs. `confs` are what a main
    * sets beyond that.
    */
  def localSession(cores: Int, confs: (String, String)*): SparkSession = {
    val s = confs.foldLeft(SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.flagship(spark, "/root/testdata/sf0.001")

  /** Every registered query, module by module. */
  def registry: Seq[Query] = Seq(
    Relational.queries, JoinQueries.queries, WindowQueries.queries,
    AggregateQueries.queries, ScalarQueries.queries,
    SamplingQueries.queries, TextQueries.queries, DedupQueries.queries,
    AnnQueries.queries, IvfAnn.queries, MultimodalQueries.queries,
    GraphQueries.queries, graft.streaming.StreamingQueries.queries).flatten

  /** Name → builder for every registered query; a repeated name throws. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Query.index(registry).map { case (name, q) => name -> q.build }

  /** DuckDB-runnable oracle SQL per query (same parquet tables).
    * Queries absent here are non-SQL-expressible (LSH/heuristic/
    * multimodal) → driver records the weaker rows-only check; each has
    * a ScalaTest spec asserting its semantics instead.
    */
  def oracleSql: Map[String, String] =
    Query.index(registry).collect { case (name, Query(_, _, Some(sql))) => name -> sql }
}
