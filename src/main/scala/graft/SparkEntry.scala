package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.queries.{AnalyticQueries, CorpusQueries, CurationQueries, EvalQueries, VectorQueries, DataStreamQueries, EmbeddingQueries, ExtendedRelationalQueries, LlmQueries, OperationalQueries, PipelineQueries, QualityQueries, RelationalQueries, StatsQueries, WindowQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` holds one entry per implemented operator from SURVEY.md §2;
  * `oracleSql` holds the DuckDB-equivalent SQL for the driver's
  * correctness compare (column names aliased identically on both sides).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1-style pricing summary: scan → pushed filter → hash aggregate.
    */
  def entry(spark: SparkSession): DataFrame =
    Tables.lineitem(spark, "/root/testdata/sf0.001")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"),
           sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
           count(lit(1)).as("count_order"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ WindowQueries.queries ++ DataStreamQueries.queries ++ LlmQueries.queries ++ EmbeddingQueries.queries ++ ExtendedRelationalQueries.queries ++ AnalyticQueries.queries ++ PipelineQueries.queries ++ OperationalQueries.queries ++ QualityQueries.queries ++ StatsQueries.queries ++ CorpusQueries.queries ++ EvalQueries.queries ++ VectorQueries.queries ++ CurationQueries.queries

  /** The queries whose names start with one of `prefixes`; an empty list
    * selects every query. Iteration order is the `queries` map's.
    */
  def select(prefixes: Seq[String]): Map[String, (SparkSession, String) => DataFrame] =
    if (prefixes.isEmpty) queries
    else queries.filter { case (n, _) => prefixes.exists(n.startsWith) }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracles ++ WindowQueries.oracles ++ DataStreamQueries.oracles ++ LlmQueries.oracles ++ EmbeddingQueries.oracles ++ ExtendedRelationalQueries.oracles ++ AnalyticQueries.oracles ++ PipelineQueries.oracles ++ OperationalQueries.oracles ++ QualityQueries.oracles ++ StatsQueries.oracles ++ CorpusQueries.oracles ++ EvalQueries.oracles ++ VectorQueries.oracles ++ CurationQueries.oracles
}
