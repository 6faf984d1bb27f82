package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Exact._

/** Bucketed (pre-partitioned, co-located) tables — the Spark replacement
  * for the reference's fact-table indexes (SURVEY.md §4: DuckDB indexes →
  * "partitioning + optional sort-within-partitions").
  *
  * Writing both join sides bucketed INTO the same bucket count on the join
  * key means the subsequent SortMergeJoin reads bucket-aligned, pre-sorted
  * files and needs NO shuffle exchange and NO sort — at 100 TB that turns
  * the dominant cost of a fact-to-fact join (two full-data shuffles) into a
  * pure merge. PlanAuditSpec asserts the exchange-free plan; the gate query
  * checks the results match a plain join.
  */
object BucketedOps extends graft.QueryFamily {
  private val runId = new AtomicInteger(0)

  // b1's bucketed layout, written once per (session, source dir, buckets):
  // bucketing is a TABLE PROPERTY laid down at load time and amortized over
  // every later join — re-bucketing per query would charge the layout cost
  // to the operator the layout exists to make cheap (s5 has the same
  // memoization for its hive-partitioned layout).
  private val bucketedTables =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Int), (String, String)]()

  private[graft] def bucketedOnce(s: SparkSession, d: String, n: Int): (String, String) =
    bucketedTables.computeIfAbsent((s, d, n), { _ => writeBucketed(s, d, n) })

  /** Write orders + lineitem bucketed by order key into `n` buckets under a
    * scratch location, registered as session-catalog tables. Returns the
    * two table names. */
  private[graft] def writeBucketed(s: SparkSession, d: String, n: Int): (String, String) = {
    val id = runId.incrementAndGet()
    val loc = java.nio.file.Files.createTempDirectory("graft_bucketed_").toString
    val (ot, lt) = (s"b1_orders_$id", s"b1_lineitem_$id")
    Tables.orders(s, d)
      .select("o_orderkey", "o_orderpriority")
      .write.format("parquet")
      .bucketBy(n, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$loc/$ot").saveAsTable(ot)
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_extendedprice", "l_quantity")
      .write.format("parquet")
      .bucketBy(n, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$loc/$lt").saveAsTable(lt)
    (ot, lt)
  }

  private[graft] def bucketedJoin(s: SparkSession, ot: String, lt: String): DataFrame =
    s.table(lt)
      .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("o_orderpriority")

  val queries: Map[String, Q] = Map(
    // B1: co-located fact-to-fact join over bucketed tables.
    "b1_bucketed_join" -> { (s, d) =>
      val (ot, lt) = bucketedOnce(s, d, 8)
      bucketedJoin(s, ot, lt)
    })

  val oracles: Map[String, String] = Map(
    "b1_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
                CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,8))), 4) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY 1""")
}
