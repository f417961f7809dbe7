package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{ChQueries, DedupQueries, E2eQueries, EventQueries, IngestQueries, LmQueries,
  MultimodalQueries, QualityQueries, QueryDef, RetrievalQueries, TradeQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Every implemented operator, assembled from the query modules. */
  def allDefs: Seq[QueryDef] =
    TradeQueries.all ++ IngestQueries.all ++ DedupQueries.all ++ RetrievalQueries.all ++
      LmQueries.all ++ QualityQueries.all ++ MultimodalQueries.all ++ EventQueries.all ++
      ChQueries.all ++ E2eQueries.all

  /** Flagship query (Q7, SURVEY §7.4) on /root/testdata/sf0.001;
    * driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    TradeQueries.q07.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
