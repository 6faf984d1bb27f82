package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Exact._

/** Scan / projection / filter operators (SURVEY.md §2.1–§2.2).
  *
  * Reference semantics: parquet scans feeding INSERT-SELECT
  * (schema_drift.py:209–216), standardizing projections with derived columns
  * (standardize.py:23–69), not-null pushdown (standardize.py:67–68), validity
  * flags (standardize.py:62), band/date/string predicates (aggregations.py:58–61,
  * 12_cbd_congestion_fee_impact.sql:45). All filters/projections here are plain
  * Catalyst expressions so predicate pushdown + column pruning reach the
  * parquet scan (verified via `.explain`: PushedFilters / ReadSchema).
  */
object ScanFilterOps extends graft.QueryFamily {
  val queries: Map[String, Q] = Map(
    // S1/S2: projection+filter pushed down to the parquet scan.
    "s1_scan_pushdown" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // S5/S11: per-table row/metadata stats (validators.py:16–89,
    // connection.py:139–204) — a count-star per source, unioned.
    "s11_table_stats" -> { (s, d) =>
      Seq("lineitem", "orders", "customer", "supplier", "part",
          "nation", "region", "events", "documents", "embeddings")
        .map(t => Tables(s, d, t).agg(count(lit(1)).as("n_rows"))
          .select(lit(t).as("tbl"), col("n_rows")))
        .reduce(_ unionByName _)
        .orderBy("tbl")
    },

    // P1: standardizing projection with derived metrics (standardize.py:23–69):
    // rename + per-row arithmetic; exact cross-engine (no accumulation).
    "p1_projection_derive" -> { (s, d) =>
      Tables.lineitem(s, d).select(
        col("l_orderkey").as("order_id"),
        col("l_linenumber").as("line_no"),
        col("l_quantity").as("qty"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
          .as("charge"),
        (col("l_quantity") > 25).as("is_bulk"))
        .orderBy("order_id", "line_no")
    },

    // P4+P5: not-null pushdown + validity flag as computed column
    // (standardize.py:62,67–68) then a validity census.
    "p5_validity_census" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate").isNotNull && col("l_quantity").isNotNull)
        .withColumn("is_valid",
          col("l_quantity") >= 0 && col("l_extendedprice") >= 0 &&
          col("l_discount").between(0, 1) && col("l_tax") >= 0)
        .groupBy("l_returnflag", "is_valid")
        .agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag", "is_valid")
    },

    // P6: quality-band filter on a derived ratio (aggregations.py:58–61
    // `price_per_mile BETWEEN 0.5 AND 50`).
    "p6_band_filter" -> { (s, d) =>
      Tables.lineitem(s, d)
        .withColumn("price_per_unit", safeDiv(col("l_extendedprice"), col("l_quantity")))
        .filter(col("price_per_unit").between(100, 1000))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), davg(col("price_per_unit")).as("avg_ppu"))
        .orderBy("l_returnflag")
    },

    // P7: date-range predicate (12_cbd_congestion_fee_impact.sql:45) —
    // partition-prunable at scale when the fact is partitioned by date.
    "p7_date_range" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate").between(
          lit("1997-01-01").cast("timestamp"), lit("1997-12-31").cast("timestamp")))
        .groupBy(month(col("l_shipdate")).cast("long").as("ship_month"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("ship_month")
    },

    // P8: string predicates — LIKE / != / = (09:19, 11:32, schema.py:77).
    "p8_string_predicates" -> { (s, d) =>
      Tables.part(s, d)
        .filter(col("p_type").like("S%") && col("p_brand") =!= "Brand#1" &&
                col("p_name").like("%a%"))
        .groupBy("p_type", "p_brand")
        .agg(count(lit(1)).as("n"))
        .orderBy("p_type", "p_brand")
    })

  val oracles: Map[String, String] = Map(
    "s1_scan_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         WHERE l_shipdate < TIMESTAMP '1996-01-01'
         ORDER BY l_orderkey, l_linenumber""",

    "s11_table_stats" -> Seq(
      "lineitem", "orders", "customer", "supplier", "part",
      "nation", "region", "events", "documents", "embeddings")
      .map(t => s"SELECT '$t' AS tbl, COUNT(*) AS n_rows FROM $t")
      .mkString("", " UNION ALL ", " ORDER BY tbl"),

    "p1_projection_derive" ->
      """SELECT l_orderkey AS order_id, l_linenumber AS line_no,
                l_quantity AS qty,
                l_extendedprice * (1 - l_discount) AS revenue,
                l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
                l_quantity > 25 AS is_bulk
         FROM lineitem ORDER BY order_id, line_no""",

    "p5_validity_census" ->
      """SELECT l_returnflag,
                (l_quantity >= 0 AND l_extendedprice >= 0
                 AND l_discount BETWEEN 0 AND 1 AND l_tax >= 0) AS is_valid,
                COUNT(*) AS n
         FROM lineitem
         WHERE l_shipdate IS NOT NULL AND l_quantity IS NOT NULL
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "p6_band_filter" ->
      """SELECT l_returnflag, COUNT(*) AS n,
                CAST(ROUND(SUM(CAST((l_extendedprice / NULLIF(l_quantity, 0)) AS DECIMAL(30,8))), 4) AS DOUBLE)
                  / COUNT(l_extendedprice / NULLIF(l_quantity, 0)) AS avg_ppu
         FROM lineitem
         WHERE (l_extendedprice / NULLIF(l_quantity, 0)) BETWEEN 100 AND 1000
         GROUP BY 1 ORDER BY 1""",

    "p7_date_range" ->
      """SELECT CAST(EXTRACT(MONTH FROM l_shipdate) AS BIGINT) AS ship_month,
                COUNT(*) AS n,
                CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(30,8))), 4) AS DOUBLE) AS sum_qty
         FROM lineitem
         WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-12-31'
         GROUP BY 1 ORDER BY 1""",

    "p8_string_predicates" ->
      """SELECT p_type, p_brand, COUNT(*) AS n FROM part
         WHERE p_type LIKE 'S%' AND p_brand <> 'Brand#1' AND p_name LIKE '%a%'
         GROUP BY 1, 2 ORDER BY 1, 2""")
}
