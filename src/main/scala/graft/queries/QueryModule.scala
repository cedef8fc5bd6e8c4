package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One family of driver-gated queries: its query builders by name, and
  * for each the DuckDB-runnable SQL its result is checked against.
  * `SparkEntry.modules` lists every module once.
  */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
