package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 (inventory) and §7
  * (build plan). Each inventory entry lives in graft.queries.* as a
  * [[QueryDef]] (Spark plan + DuckDB oracle SQL).
  */
object SparkEntry {

  /** Full inventory: name → (query, oracle). */
  def all: Map[String, QueryDef] =
    RelationalQueries.defs ++ VectorQueries.defs ++
      TextQueries.defs ++ DedupQueries.defs ++
      PipelineQueries.defs ++ MultimodalQueries.defs ++
      AnalyticsQueries.defs ++ RelationalExtQueries.defs ++
      CurationQueries.defs ++ TxnQueries.defs ++ GraphQueries.defs ++
      TpchDeepQueries.defs ++ StreamingTwinQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's headline operation: top-k vector search. */
  def entry(spark: SparkSession): DataFrame =
    all("vs_knn_cosine").fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (k, v) => k -> v.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → rows-only check. */
  def oracleSql: Map[String, String] =
    all.collect { case (k, QueryDef(_, Some(sql), _)) => k -> sql }
}
