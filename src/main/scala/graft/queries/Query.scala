package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, how to build it over a scale dir,
  * and — when its result is SQL-expressible — the DuckDB oracle over
  * the same parquet tables. Queries without an oracle are
  * non-SQL-expressible (LSH / learned / multimodal); the driver records
  * the weaker rows-only check and a ScalaTest spec asserts their
  * semantics instead.
  */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Query {

  /** Name → record. A name declared twice throws, naming it. */
  def index(all: Seq[Query]): Map[String, Query] = {
    val repeated = all.groupBy(_.name).collect {
      case (name, qs) if qs.size > 1 => name }
    require(repeated.isEmpty,
      s"query declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    all.map(q => q.name -> q).toMap
  }
}
