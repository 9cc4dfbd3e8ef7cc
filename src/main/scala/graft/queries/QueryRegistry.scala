package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One file's declared queries and their DuckDB oracles, by query name. */
trait QueryRegistry {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
