package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.{ParityQueries, PipelineQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps operator names (SURVEY.md §2 inventory + the
  * training-data-pipeline extensions) to DataFrame builders over the shared
  * parquet testdata; `oracleSql` carries, for every query, the
  * DuckDB-equivalent SQL its result is hash-compared against.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A staged two-phase evaluation over per-supplier lineitem aggregates —
    * the engine's centerpiece operator composition. */
  def entry(spark: SparkSession): DataFrame =
    queries("q20_staged_threshold")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ParityQueries.queries ++ PipelineQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    ParityQueries.oracleSql ++ PipelineQueries.oracleSql
}
