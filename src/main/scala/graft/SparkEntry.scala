package graft

import graft.queries.Registry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract: one named query per implemented operator from
  * SURVEY.md §2, each paired with equivalent DuckDB SQL in
  * [[oracleSql]] (the correctness gate compares both on sf0.01).
  * Both maps are derived from [[graft.queries.Registry]], where each
  * query is declared once (see [[graft.queries.QueryDef]] for the
  * oracle-parity authoring rules). */
object SparkEntry {

  /** Flagship: the decoded-Transfer aggregation pipeline (codec + view
    * generator + topic0 filter + grouped agg) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("q12_transfer_view_pipeline")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] =
    Registry.all.map(q => q.name -> q.oracle).toMap
}
