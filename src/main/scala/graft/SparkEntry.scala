package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Entry-point contract — see SURVEY.md §7. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_agg_summary")(spark, "/root/testdata/sf0.001")

  /** Every query module, once; `queries` and `oracleSql` fold over it. */
  val modules: Seq[QueryModule] = Seq(
    Relational, AstroQueries, Pipeline, LlmText, DedupOps, EmbeddingOps,
    SessionOps, JoinOps, TrainPrep, VectorOps, EventAnalytics, Retrieval,
    GraphOps, StatsOps, TpchShapes, TemporalOps, LayoutOps, SqlSurface,
    PatternOps, MaintOps, PlannerOps, ProfileOps, OpsAnalytics, CorpusOps)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_.queries).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    modules.map(_.oracles).reduce(_ ++ _)
}
