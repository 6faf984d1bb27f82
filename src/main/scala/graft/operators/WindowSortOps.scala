package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Exact._

/** Window, sort/top-k and set operators (SURVEY.md §2.5–§2.7).
  *
  * Windows always carry a `partitionBy` — the reference's one global
  * `ROW_NUMBER() OVER ()` (standardize.py:182) is a single-partition hazard
  * at scale and is deliberately re-expressed with partitioned windows or
  * content hashes (see SURVEY.md §7.4 risk 3). Top-k uses orderBy+limit so
  * Spark plans TakeOrderedAndProject (no full sort/collect of the input).
  */
object WindowSortOps extends graft.QueryFamily {
  val queries: Map[String, Q] = Map(
    // W1: ROW_NUMBER over a real partition (standardize.py:182 re-expressed).
    "w1_row_number" -> { (s, d) =>
      // (l_orderkey, l_linenumber) is NOT unique in this data — the window
      // order must be a total order or row_number picks arbitrarily.
      val w = Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_partkey", "l_suppkey")
      Tables.lineitem(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("rn"), col("l_quantity"))
        .orderBy("l_orderkey", "rn")
    },

    // W2: percent-of-total via SUM(agg) OVER () (08_shared_rides_analysis.sql:11).
    "w2_pct_of_total" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .withColumn("pct",
          col("n") * lit(100.0) / sum(col("n")).over(Window.partitionBy()))
        .orderBy("o_orderpriority")
    },

    // W3: AVG OVER (PARTITION BY) — value vs partition average (14:105).
    // Decimal-sum window keeps the partition average order-independent.
    "w3_partition_avg_dev" -> { (s, d) =>
      val w = Window.partitionBy("event_type")
      Tables.events(s, d)
        .withColumn("type_avg",
          sum(col("value").cast("decimal(30,8)")).over(w).cast("double") /
            count(col("value")).over(w))
        .withColumn("deviation", col("value") - col("type_avg"))
        .filter(abs(col("deviation")) > 150)
        .select(col("event_id"), col("event_type"), col("value"),
          col("type_avg"), col("deviation"))
        .orderBy("event_id")
    },

    // W4: LAG over (PARTITION BY … ORDER BY …) (docs/IMPLEMENTATION_GUIDE
    // .md:1586–1587) — per-user value deltas.
    "w4_lag_delta" -> { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .filter(col("user_id") < 50)
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("delta", col("value") - col("prev_value"))
        .filter(col("prev_value").isNotNull)
        .select(col("user_id"), col("event_id"), col("value"),
          col("prev_value"), col("delta"))
        .orderBy("user_id", "event_id")
    },

    // W5 (beyond reference): top-N per group via ranked window — the
    // dedup-keep-best idiom a training pipeline needs.
    "w5_topn_per_group" -> { (s, d) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 2)
        .select(col("o_custkey"), col("rk"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_custkey", "rk")
    },

    // W7 (beyond reference): same top-N-per-group semantics as w5 through
    // the custom heap-based TopKPerGroup operator (graft.plans) — bounded
    // O(n log k) partial pass, shuffle of survivors only, no full group
    // sort. Oracle-checked against the same DuckDB window query.
    "w7_topk_native" -> { (s, d) =>
      graft.plans.TopK.perGroup(
        Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_totalprice"),
        k = 2,
        groupCols = Seq("o_custkey"),
        orderBy = Seq("o_totalprice" -> false, "o_orderkey" -> true))
        .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
    },

    // T1: top-k by aggregate (01:18–19) — TakeOrderedAndProject.
    "t1_topk_revenue" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n"))
        .orderBy(col("revenue").desc, col("o_custkey"))
        .limit(20)
    },

    // T2: CASE sort key + limit (11:72–78).
    "t2_case_sort" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n"))
        .withColumn("prio_rank",
          when(col("o_orderpriority") === "1-URGENT", 1)
            .when(col("o_orderpriority") === "2-HIGH", 2)
            .otherwise(9))
        .orderBy(col("prio_rank"), col("n").desc,
          col("o_orderpriority"), col("o_orderstatus"))
        .limit(50)
    },

    // T3: top-k by ABS(deviation) (14:164–165); the global mean comes from a
    // broadcast one-row cross join, not a collect.
    "t3_abs_topk" -> { (s, d) =>
      val o = Tables.orders(s, d)
      val gavg = o.agg(davg(col("o_totalprice")).as("global_avg"))
      o.crossJoin(broadcast(gavg))
        .withColumn("dev", col("o_totalprice") - col("global_avg"))
        .orderBy(abs(col("dev")).desc, col("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"), col("dev"))
        .limit(100)
    },

    // T5: LIMIT/OFFSET page fetch (reference cli.py paginated export,
    // SURVEY §2.6) — Dataset.offset composes with the same
    // TakeOrderedAndProject machinery as limit, fetching offset+limit and
    // dropping the page prefix. A bounded page read is driver-sized BY
    // DESIGN (it exists to feed a UI/export cursor); the scale path for
    // full-table export is the partitioned write (S10), not deep offsets —
    // which is why offset pagination deeper than a few pages should become
    // keyset pagination (p7's date-range predicate shape) instead.
    "t5_limit_offset" -> { (s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .offset(40)
        .limit(20)
    },

    // U1: union-by-construction (standardize.py:24,90,168) —
    // heterogeneous branches unified via unionByName(allowMissingColumns).
    "u1_union_by_name" -> { (s, d) =>
      val li = Tables.lineitem(s, d).select(
        lit("lineitem").as("src"), col("l_orderkey").as("id"),
        col("l_extendedprice").as("amount"), lit(null).cast("string").as("etype"))
      val o = Tables.orders(s, d).select(
        lit("orders").as("src"), col("o_orderkey").as("id"),
        col("o_totalprice").as("amount"))
      val ev = Tables.events(s, d).select(
        lit("events").as("src"), col("event_id").as("id"),
        col("value").as("amount"), col("event_type").as("etype"))
      li.unionByName(o, allowMissingColumns = true)
        .unionByName(ev, allowMissingColumns = true)
        .groupBy("src")
        .agg(
          count(lit(1)).as("n"),
          dsum(col("amount")).as("total_amount"),
          count(col("etype")).as("n_typed"))
        .orderBy("src")
    })

  val oracles: Map[String, String] = Map(
    "w1_row_number" ->
      """SELECT l_orderkey, l_linenumber, rn, l_quantity FROM (
           SELECT l_orderkey, l_linenumber, l_quantity,
                  CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_partkey, l_suppkey) AS INT) AS rn
           FROM lineitem)
         WHERE rn <= 2 ORDER BY l_orderkey, rn""",

    "w2_pct_of_total" ->
      """SELECT o_orderpriority, n, n * 100.0 / SUM(n) OVER () AS pct FROM (
           SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY 1)
         ORDER BY o_orderpriority""",

    "w3_partition_avg_dev" ->
      """SELECT event_id, event_type, "value", type_avg, deviation FROM (
           SELECT event_id, event_type, "value",
                  CAST(SUM(CAST("value" AS DECIMAL(30,8))) OVER (PARTITION BY event_type) AS DOUBLE)
                    / COUNT("value") OVER (PARTITION BY event_type) AS type_avg,
                  "value" - CAST(SUM(CAST("value" AS DECIMAL(30,8))) OVER (PARTITION BY event_type) AS DOUBLE)
                    / COUNT("value") OVER (PARTITION BY event_type) AS deviation
           FROM events)
         WHERE ABS(deviation) > 150 ORDER BY event_id""",

    "w4_lag_delta" ->
      """SELECT user_id, event_id, "value", prev_value, "value" - prev_value AS delta FROM (
           SELECT user_id, event_id, "value",
                  LAG("value", 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
           FROM events WHERE user_id < 50)
         WHERE prev_value IS NOT NULL ORDER BY user_id, event_id""",

    "w5_topn_per_group" ->
      """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
           FROM orders)
         WHERE rk <= 2 ORDER BY o_custkey, rk""",

    "w7_topk_native" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders)
         WHERE rk <= 2 ORDER BY o_custkey, o_totalprice DESC, o_orderkey""",

    "t1_topk_revenue" ->
      """SELECT o_custkey,
                CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,8))), 4) AS DOUBLE) AS revenue,
                COUNT(*) AS n
         FROM orders GROUP BY 1
         ORDER BY revenue DESC, o_custkey LIMIT 20""",

    "t2_case_sort" ->
      """SELECT o_orderpriority, o_orderstatus, n,
                CASE WHEN o_orderpriority = '1-URGENT' THEN 1
                     WHEN o_orderpriority = '2-HIGH' THEN 2
                     ELSE 9 END AS prio_rank
         FROM (SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n FROM orders GROUP BY 1, 2)
         ORDER BY prio_rank, n DESC, o_orderpriority, o_orderstatus LIMIT 50""",

    "t3_abs_topk" ->
      """WITH g AS (
           SELECT CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,8))), 4) AS DOUBLE) / COUNT(o_totalprice) AS global_avg
           FROM orders)
         SELECT o_orderkey, o_totalprice, o_totalprice - global_avg AS dev
         FROM orders, g
         ORDER BY ABS(o_totalprice - global_avg) DESC, o_orderkey LIMIT 100""",

    "t5_limit_offset" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders
         ORDER BY o_totalprice DESC, o_orderkey
         LIMIT 20 OFFSET 40""",

    "u1_union_by_name" ->
      """WITH unioned AS (
           SELECT 'lineitem' AS src, l_orderkey AS id, l_extendedprice AS amount,
                  CAST(NULL AS VARCHAR) AS etype FROM lineitem
           UNION ALL
           SELECT 'orders', o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) FROM orders
           UNION ALL
           SELECT 'events', event_id, "value", event_type FROM events)
         SELECT src, COUNT(*) AS n,
                CAST(ROUND(SUM(CAST(amount AS DECIMAL(30,8))), 4) AS DOUBLE) AS total_amount,
                COUNT(etype) AS n_typed
         FROM unioned GROUP BY 1 ORDER BY 1""")
}
