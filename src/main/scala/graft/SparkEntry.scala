package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** The query registry (build plan: SURVEY.md §7).
  *
  * Every implemented operator is a named entry in [[queries]]; entries whose
  * semantics are ANSI-SQL-expressible carry a DuckDB oracle in [[oracleSql]]
  * (the driver hash-compares both at sf0.01).
  */
object SparkEntry {

  private def registry: Seq[QueryDef] =
    RelationalQueries.all ++ EventQueries.all ++
      TextQueries.all ++ DedupQueries.all ++ SimilarityQueries.all ++
      MedallionQueries.all ++ AnalyticsQueries.all ++ MiscQueries.all ++
      StatsQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q12_star_enrich")(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** The mains' query filter: whether comma-separated `patterns` select
    * `name`. A pattern selects the name it equals and the names it
    * prefixes up to `_` (`q1` selects `q1_*`, not `q10_pivot_status`).
    */
  def selects(patterns: String, name: String): Boolean =
    patterns.split(',').exists(p => p.nonEmpty && (name == p || name.startsWith(p + "_")))

  def selected(patterns: String): Map[String, (SparkSession, String) => DataFrame] =
    queries.filter { case (n, _) => selects(patterns, n) }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
