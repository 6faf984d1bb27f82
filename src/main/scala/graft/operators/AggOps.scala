package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Exact._

/** Aggregation operators (SURVEY.md §2.4) + data-quality checks (§2.10).
  *
  * All grouped aggregation maps to Spark's partial+final hash aggregate
  * (map-side combine is automatic for these algebraic aggregates — no extra
  * shuffle beyond the single group-key exchange). Percentiles are exact
  * interpolated PERCENTILE_CONT like the reference's
  * (aggregations.py:33–50), written as Spark's `percentile` and planned by
  * [[graft.plans.RewritePercentileAgg]] onto [[PercentileCont]]
  * (bit-identical to the builtin, whose final merge holds a per-group
  * value-count map in one task); approximate percentile would not
  * hash-match the oracle.
  */
object AggOps extends graft.QueryFamily {
  val queries: Map[String, Q] = Map(
    // A25: distinct counting via BITMAPS — the roaring-bitmap pattern that
    // replaces sort/hash-based COUNT(DISTINCT) at 100 TB: bucket the key
    // space into 63-bit words (the sign bit of an int64 word stays clear —
    // DuckDB rejects 1<<63 as signed overflow), bit_or the in-word
    // positions (mergeable integer partials, map-side combined), then sum
    // popcounts. Two hash-aggs, no expand, no per-group distinct state.
    // The exact COUNT(DISTINCT) rides alongside so the gate itself proves
    // the equivalence on every group.
    "a25_bitmap_distinct" -> { (s, d) =>
      val words = graft.Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("user_id div 63").as("word"))
        .agg(expr("bit_or(shiftleft(1L, CAST(user_id % 63 AS INT)))").as("bits"))
      val viaBitmap = words.groupBy("event_type")
        .agg(sum(expr("CAST(bit_count(bits) AS BIGINT)")).as("n_distinct_bitmap"))
      val exact = graft.Tables.events(s, d)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_distinct_exact"))
      viaBitmap.join(exact, "event_type")
        .select("event_type", "n_distinct_bitmap", "n_distinct_exact")
        .orderBy("event_type")
    },

    // A1: plain grouped agg — the flagship pricing-summary shape
    // (quality_checks.py:27–36; analytics 01:7–13).
    "a1_pricing_summary" -> { (s, d) =>
      // r14 (guide §2.6): five exact-decimal sums per row ran in the scan's
      // 3 tasks (1.8 s in one stage at sf0.1, 29 cores idle) — fan the
      // narrow scan out first; the projection below keeps the shuffle to
      // the 7 consumed columns and the helper is a no-op at real scale.
      Tables.spreadIfNarrow(Tables.lineitem(s, d)
          .select("l_returnflag", "l_linestatus", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
            .as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // A2: exact interpolated percentiles (aggregations.py:33–50; 04:8–10).
    // RewritePercentileAgg plans all three quantiles onto ONE stacked
    // PercentileCont batch — two mergeable passes total, no per-group
    // value-count map in any task (the builtin percentile buffers every
    // distinct price of a priority class in its final merge; 5 groups over
    // near-unique prices = corpus/5 in one task at 100 TB).
    "a2_percentiles" -> { (s, d) =>
      def p(q: Double) = round(percentile(col("o_totalprice"), lit(q)), 4)
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(p(0.25).as("p25"), p(0.5).as("p50"), p(0.75).as("p75"), count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },

    // A3: sample stddev (aggregations.py:95; 13:18).
    "a3_stddev" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          round(stddev(col("value")), 4).as("sd_value"),
          davg(col("value")).as("avg_value"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // A4: conditional (pivot-style) aggregates — SUM/AVG over CASE
    // (aggregations.py:137–157; 01:11–13).
    "a4_conditional_pivot" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(
          sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).cast("long").as("n_finished"),
          sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).cast("long").as("n_open"),
          davg(when(col("o_orderstatus") === "O", col("o_totalprice"))).as("avg_open_price"),
          davg(when(col("o_orderstatus") === "F", col("o_totalprice"))).as("avg_finished_price"))
        .orderBy("o_orderpriority")
    },

    // A5: conditional COUNT — nulls skipped (11:17,24).
    "a5_conditional_count" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          count(when(col("value") > 100, lit(1))).as("n_large"),
          count(when(col("value") <= 100, lit(1))).as("n_small"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // A6: filtered-ratio aggregates with NULLIF zero guard
    // (aggregations.py:142–144,155–157).
    "a6_ratio_share" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(
          (sum(when(col("o_totalprice") > 200000, 1).otherwise(0)).cast("double") /
            count(lit(1))).as("high_value_share"),
          (sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).cast("double") /
            count(lit(1))).as("open_share"))
        .orderBy("o_orderpriority")
    },

    // A7: HAVING — post-aggregation filter (aggregations.py:113,162).
    "a7_having" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_suppkey", "l_returnflag")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .filter(col("n") >= 5)
        .orderBy("l_suppkey", "l_returnflag")
    },

    // A8: exact COUNT(DISTINCT) (14:84).
    "a8_count_distinct" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(
          countDistinct(col("o_custkey")).as("n_custs"),
          countDistinct(to_date(col("o_orderdate"))).as("n_days"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },

    // A9: group on a CASE bucket expression (13:82–110).
    "a9_bucket_group" -> { (s, d) =>
      Tables.lineitem(s, d)
        .withColumn("qty_bucket",
          when(col("l_quantity") < 10, "short")
            .when(col("l_quantity") < 25, "medium")
            .otherwise("long"))
        .groupBy("qty_bucket")
        .agg(count(lit(1)).as("n"), davg(col("l_extendedprice")).as("avg_price"))
        .orderBy("qty_bucket")
    },

    // A10: global (no-group) aggregate (quality_checks.py:27–36).
    "a10_global_agg" -> { (s, d) =>
      Tables.orders(s, d)
        .agg(
          count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_price"),
          davg(col("o_totalprice")).as("avg_price"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
    },

    // A11: multi-level re-aggregation (03_market_share_trends.sql:19–35):
    // per-customer totals, then a distribution over those totals.
    "a11_reagg" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
        .withColumn("order_bucket",
          when(col("n_orders") < 5, "low").when(col("n_orders") < 15, "mid")
            .otherwise("high"))
        .groupBy("order_bucket")
        .agg(count(lit(1)).as("n_custs"), davg(col("spend")).as("avg_spend"))
        .orderBy("order_bucket")
    },

    // §2.10 quality check: fare-style value bands — negative / excessive /
    // null counts + min/max/avg (quality_checks.py:17–59).
    "qc_value_checks" -> { (s, d) =>
      Tables.events(s, d)
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("value") < 0, 1).otherwise(0)).cast("long").as("n_negative"),
          sum(when(col("value") > 400, 1).otherwise(0)).cast("long").as("n_excessive"),
          sum(when(col("value").isNull, 1).otherwise(0)).cast("long").as("n_null"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"),
          davg(col("value")).as("avg_value"))
    },

    // §2.10 quality check: reversed-timestamp analog — lineitems shipped
    // before their order date (quality_checks.py:61–99 `dropoff < pickup`).
    "qc_reversed_ts" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("l_shipdate") < col("o_orderdate"), 1).otherwise(0)).cast("long")
            .as("n_reversed"),
          sum(when(col("l_shipdate").isNull || col("o_orderdate").isNull, 1).otherwise(0))
            .cast("long").as("n_null_ts"))
    },

    // §2.10 quality check beyond the reference's four: FRESHNESS audit —
    // per-stream last-arrival lag against the load watermark (max ts across
    // the table), the staleness monitor every scheduled pipeline alerts on
    // ("source X stopped arriving"). One aggregate per stream + a one-row
    // broadcast of the global watermark; lag measured in whole hours
    // (integer micros division — exact).
    "qc_freshness" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val wm = ev.agg(max(col("ts")).as("watermark"))
      ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"), max(col("ts")).as("last_seen"))
        .crossJoin(broadcast(wm))
        .select(
          col("event_type"), col("n"), col("last_seen"),
          expr("(unix_micros(watermark) - unix_micros(last_seen)) div 3600000000")
            .as("lag_hours"),
          expr("unix_micros(watermark) - unix_micros(last_seen) > 86400000000")
            .as("stale"))
        .orderBy("event_type")
    },

    // §2.10 quality check beyond the reference's four: REFERENTIAL
    // INTEGRITY audit — orphaned foreign keys per relationship, the load
    // gate every warehouse runs after ingestion. The parent set is
    // deterministically damaged (orders with o_orderkey % 97 = 0 dropped,
    // simulating a partial parent load) so the census is non-trivial; the
    // check itself is one left-anti join per relationship, counts rolled
    // into a single audit frame. Anti joins broadcast the (small, pruned)
    // key set at this scale and shuffle-partition on the key at 100 TB.
    "qc_referential" -> { (s, d) =>
      val damagedOrders = Tables.orders(s, d)
        .filter(pmod(col("o_orderkey"), lit(97)) =!= 0)
        .select(col("o_orderkey"))
      val orphanLineitems = Tables.lineitem(s, d)
        .join(damagedOrders, col("l_orderkey") === col("o_orderkey"), "left_anti")
      val custKeys = Tables.customer(s, d).select(col("c_custkey"))
      val orphanEvents = Tables.events(s, d)
        .join(custKeys, col("user_id") === col("c_custkey"), "left_anti")
      val a = orphanLineitems.agg(
        count(lit(1)).as("n_orphans"),
        coalesce(sum(col("l_orderkey")), lit(0L)).as("orphan_key_sum"))
        .withColumn("relationship", lit("lineitem->orders(damaged)"))
      val b = orphanEvents.agg(
        count(lit(1)).as("n_orphans"),
        coalesce(sum(col("user_id")), lit(0L)).as("orphan_key_sum"))
        .withColumn("relationship", lit("events->customer"))
      a.unionByName(b)
        .select("relationship", "n_orphans", "orphan_key_sum")
        .orderBy("relationship")
    },

    // §2.10 quality check beyond the reference's four: distributional
    // OUTLIER detection — prices beyond 1.5×IQR of their group. Fences are
    // built from DISCRETE quantiles (actual data elements, bit-identical in
    // both engines — interpolated quantiles differ below 1e-12 and would
    // flip boundary comparisons); the fence arithmetic is then the same
    // double expression tree on both sides. Group quartiles are a
    // broadcast-sized frame; the flagging pass is one scan.
    //
    // Since r13 the quartiles ride QuantileRefine (rank ceil(q·n), the
    // a27-proven quantile_disc mapping) — the previous percentile_disc
    // builtin merged a per-group value-count map of near-unique prices in
    // ONE task, the bound class retired everywhere else this round.
    "qc_outlier_iqr" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val at = QuantileRefine.atRankExprs(
        li.select(col("l_returnflag"), col("l_extendedprice").as("v"),
          lit(1L).as("c")),
        Seq("l_returnflag"),
        Seq("q1" -> "(n + 3) DIV 4", "q3" -> "(3 * n + 3) DIV 4"))
      def pick(rid: String) = max(when(col("rid") === rid, col("v")))
      val q = at.groupBy("l_returnflag")
        .agg(pick("q1").as("q1"), pick("q3").as("q3"))
      li.join(broadcast(q), Seq("l_returnflag"))
        .withColumn("lo", col("q1") - (col("q3") - col("q1")) * 1.5)
        .withColumn("hi", col("q3") + (col("q3") - col("q1")) * 1.5)
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("l_extendedprice") < col("lo"), 1L).otherwise(0L)).as("n_low"),
          sum(when(col("l_extendedprice") > col("hi"), 1L).otherwise(0L)).as("n_high"),
          max(col("q1")).as("q1"), max(col("q3")).as("q3"))
        .orderBy("l_returnflag")
    })

  private val dsumQty = "CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(30,8))), 4) AS DOUBLE)"

  val oracles: Map[String, String] = Map(
    "a25_bitmap_distinct" ->
      """WITH w AS (
           SELECT event_type, user_id // 63 AS word,
                  bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INTEGER)) AS bits
           FROM events GROUP BY 1, 2),
         b AS (SELECT event_type,
                      CAST(SUM(bit_count(bits)) AS BIGINT) AS n_distinct_bitmap
               FROM w GROUP BY 1),
         x AS (SELECT event_type,
                      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_exact
               FROM events GROUP BY 1)
         SELECT b.event_type, b.n_distinct_bitmap, x.n_distinct_exact
         FROM b JOIN x ON b.event_type = x.event_type
         ORDER BY b.event_type""",

    "a1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(30,8))), 4) AS DOUBLE) AS sum_qty,
                CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,8))), 4) AS DOUBLE) AS sum_base_price,
                CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 4) AS DOUBLE) AS sum_disc_price,
                CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,8))), 4) AS DOUBLE) AS sum_charge,
                CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(30,8))), 4) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
                CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,8))), 4) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
                CAST(ROUND(SUM(CAST(l_discount AS DECIMAL(30,8))), 4) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
                COUNT(*) AS count_order
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",

    "a2_percentiles" ->
      """SELECT o_orderpriority,
                ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
                ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75,
                COUNT(*) AS n
         FROM orders GROUP BY 1 ORDER BY 1""",

    "a3_stddev" ->
      """SELECT event_type, ROUND(stddev_samp("value"), 4) AS sd_value,
                CAST(ROUND(SUM(CAST("value" AS DECIMAL(30,8))), 4) AS DOUBLE) / COUNT("value") AS avg_value,
                COUNT(*) AS n
         FROM events GROUP BY 1 ORDER BY 1""",

    "a4_conditional_pivot" ->
      """SELECT o_orderpriority,
                CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
                CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
                CAST(ROUND(SUM(CAST(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END AS DECIMAL(30,8))), 4) AS DOUBLE)
                  / COUNT(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END) AS avg_open_price,
                CAST(ROUND(SUM(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END AS DECIMAL(30,8))), 4) AS DOUBLE)
                  / COUNT(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END) AS avg_finished_price
         FROM orders GROUP BY 1 ORDER BY 1""",

    "a5_conditional_count" ->
      """SELECT event_type,
                COUNT(CASE WHEN "value" > 100 THEN 1 END) AS n_large,
                COUNT(CASE WHEN "value" <= 100 THEN 1 END) AS n_small,
                COUNT(*) AS n
         FROM events GROUP BY 1 ORDER BY 1""",

    "a6_ratio_share" ->
      """SELECT o_orderpriority,
                CAST(SUM(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS high_value_share,
                CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS open_share
         FROM orders GROUP BY 1 ORDER BY 1""",

    "a7_having" ->
      s"""SELECT l_suppkey, l_returnflag, COUNT(*) AS n, $dsumQty AS sum_qty
          FROM lineitem GROUP BY 1, 2 HAVING COUNT(*) >= 5 ORDER BY 1, 2""",

    "a8_count_distinct" ->
      """SELECT o_orderpriority,
                COUNT(DISTINCT o_custkey) AS n_custs,
                COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS n_days,
                COUNT(*) AS n
         FROM orders GROUP BY 1 ORDER BY 1""",

    "a9_bucket_group" ->
      """SELECT CASE WHEN l_quantity < 10 THEN 'short'
                     WHEN l_quantity < 25 THEN 'medium'
                     ELSE 'long' END AS qty_bucket,
                COUNT(*) AS n,
                CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,8))), 4) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    "a10_global_agg" ->
      """SELECT COUNT(*) AS n,
                CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,8))), 4) AS DOUBLE) AS sum_price,
                CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,8))), 4) AS DOUBLE) / COUNT(o_totalprice) AS avg_price,
                MIN(o_totalprice) AS min_price,
                MAX(o_totalprice) AS max_price
         FROM orders""",

    "a11_reagg" ->
      """WITH per_cust AS (
           SELECT o_custkey, COUNT(*) AS n_orders,
                  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,8))), 4) AS DOUBLE) AS spend
           FROM orders GROUP BY 1)
         SELECT CASE WHEN n_orders < 5 THEN 'low'
                     WHEN n_orders < 15 THEN 'mid' ELSE 'high' END AS order_bucket,
                COUNT(*) AS n_custs,
                CAST(ROUND(SUM(CAST(spend AS DECIMAL(30,8))), 4) AS DOUBLE) / COUNT(spend) AS avg_spend
         FROM per_cust GROUP BY 1 ORDER BY 1""",

    "qc_value_checks" ->
      """SELECT COUNT(*) AS n,
                CAST(SUM(CASE WHEN "value" < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
                CAST(SUM(CASE WHEN "value" > 400 THEN 1 ELSE 0 END) AS BIGINT) AS n_excessive,
                CAST(SUM(CASE WHEN "value" IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                MIN("value") AS min_value,
                MAX("value") AS max_value,
                CAST(ROUND(SUM(CAST("value" AS DECIMAL(30,8))), 4) AS DOUBLE) / COUNT("value") AS avg_value
         FROM events""",

    "qc_reversed_ts" ->
      """SELECT COUNT(*) AS n,
                CAST(SUM(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END) AS BIGINT) AS n_reversed,
                CAST(SUM(CASE WHEN l_shipdate IS NULL OR o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_ts
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey""",

    "qc_freshness" ->
      """WITH wm AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS watermark FROM events),
          g AS (SELECT event_type, COUNT(*) AS n,
                       MAX(CAST(ts AS TIMESTAMP)) AS last_seen
                FROM events GROUP BY 1)
          SELECT g.event_type, g.n, g.last_seen,
                 CAST((epoch_us(w.watermark) - epoch_us(g.last_seen)) // 3600000000 AS BIGINT) AS lag_hours,
                 (epoch_us(w.watermark) - epoch_us(g.last_seen)) > 86400000000 AS stale
          FROM g, wm w ORDER BY g.event_type""",

    // replay: orphans = children whose parent key is missing from the
    // damaged parent set (orders % 97 dropped) / the customer table.
    "qc_referential" ->
      """SELECT relationship, n_orphans, orphan_key_sum FROM (
           SELECT 'lineitem->orders(damaged)' AS relationship,
                  COUNT(*) AS n_orphans,
                  CAST(COALESCE(SUM(l_orderkey), 0) AS BIGINT) AS orphan_key_sum
           FROM lineitem
           WHERE NOT EXISTS (SELECT 1 FROM orders
                             WHERE o_orderkey = l_orderkey AND o_orderkey % 97 <> 0)
           UNION ALL
           SELECT 'events->customer', COUNT(*),
                  CAST(COALESCE(SUM(user_id), 0) AS BIGINT)
           FROM events
           WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = user_id))
         ORDER BY relationship""",

    // fences from DISCRETE quantiles (see the query comment); the fence
    // arithmetic is the identical double expression tree on both engines.
    "qc_outlier_iqr" ->
      """WITH q AS (SELECT l_returnflag,
                           quantile_disc(l_extendedprice, 0.25) AS q1,
                           quantile_disc(l_extendedprice, 0.75) AS q3
                    FROM lineitem GROUP BY 1)
         SELECT l.l_returnflag, COUNT(*) AS n,
                CAST(SUM(CASE WHEN l.l_extendedprice < q.q1 - (q.q3 - q.q1) * 1.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
                CAST(SUM(CASE WHEN l.l_extendedprice > q.q3 + (q.q3 - q.q1) * 1.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
                MAX(q.q1) AS q1, MAX(q.q3) AS q3
         FROM lineitem l JOIN q USING (l_returnflag)
         GROUP BY 1 ORDER BY 1""")
}
