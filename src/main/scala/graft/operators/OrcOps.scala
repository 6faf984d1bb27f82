package graft.operators

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Exact._

/** ORC source/sink (SURVEY.md §2.1 source/sink family beyond the
  * reference's parquet/CSV surface): Spark ships a second columnar format
  * with the same pushdown machinery, and a multi-format lakehouse pipeline
  * routinely has to bridge both (e.g. a Hive-era ORC warehouse feeding a
  * parquet-native corpus build).
  *
  * The round trip stages `customer` as ORC ONCE per (session, dataset) —
  * the gate then times the ORC SCAN with a pushed filter, not the staging
  * write (the s5_partition_pruning lesson: a gate that re-writes its input
  * every run measures the write, which is not what the operator exists to
  * prove). The DuckDB oracle never sees the ORC hop; matching hashes prove
  * the round trip is lossless for the long/double/string columns involved.
  */
object OrcOps extends graft.QueryFamily {
  private val staged = new ConcurrentHashMap[(SparkSession, String), String]()

  val queries: Map[String, Q] = Map(
    "s6_orc_roundtrip" -> { (s, d) =>
      val dir = staged.computeIfAbsent((s, d), { _ =>
        val t = Files.createTempDirectory("graft_orc_").toString
        Tables.customer(s, d).write.mode("overwrite").orc(t)
        t
      })
      // Predicate reaches the ORC reader (search-argument pushdown), the
      // projection prunes to 2 of 8 columns — same scan discipline as the
      // parquet path (`.explain` shows PushedFilters on the OrcScan).
      s.read.orc(dir)
        .filter(col("c_acctbal") > 0)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("total_bal"))
        .orderBy("c_mktsegment")
    })

  val oracles: Map[String, String] = Map(
    "s6_orc_roundtrip" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
                CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(30,8))), 4) AS DOUBLE) AS total_bal
         FROM customer WHERE c_acctbal > 0
         GROUP BY 1 ORDER BY 1""")
}
