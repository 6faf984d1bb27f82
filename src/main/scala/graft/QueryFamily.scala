package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One family of the [[SparkEntry]] queries. `queries` builds each query's
  * DataFrame from a session and a testdata dir; `oracles` holds the
  * DuckDB-equivalent SQL under the same keys. [[SparkEntry.families]] lists
  * every family. */
trait QueryFamily {
  type Q = (SparkSession, String) => DataFrame
  def queries: Map[String, Q]
  def oracles: Map[String, String]
}
