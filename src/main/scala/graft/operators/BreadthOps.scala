package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Exact._

/** Round-2 relational breadth: GROUPING SETS / CUBE, the ranking-window
  * family, explicit window frames (ROWS BETWEEN), range join, bag set ops
  * (INTERSECT/EXCEPT ALL), array-function battery, edit distance, correlated
  * EXISTS/NOT EXISTS, and a JSON source/sink round trip.
  *
  * The reference's own surface stops at plain GROUP BY + a handful of
  * windows (SURVEY.md §2.4–§2.7); these are the completions a user migrating
  * a warehouse workload onto the engine reaches for next. Every query here
  * is a single declarative plan (Catalyst handles pushdown/pruning); the
  * range join broadcasts its tiny band table instead of shuffling the fact.
  */
object BreadthOps extends graft.QueryFamily {
  val queries: Map[String, Q] = Map(
    // A16: GROUP BY GROUPING SETS — arbitrary grouping-set list in one pass
    // (one shuffle; Spark expands sets map-side), with grouping() markers.
    "a16_grouping_sets" -> { (s, d) =>
      Tables.orders(s, d)
        .groupingSets(
          Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
            Seq(col("o_orderstatus")), Seq()),
          col("o_orderpriority"), col("o_orderstatus"))
        .agg(
          grouping(col("o_orderpriority")).cast("long").as("g_priority"),
          grouping(col("o_orderstatus")).cast("long").as("g_status"),
          count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("revenue"))
        .select(
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("g_priority"), col("g_status"), col("n"), col("revenue"))
        .orderBy("g_priority", "g_status", "priority", "status")
    },

    // A17: CUBE — all 2^k grouping combinations (adds the status-only slice
    // ROLLUP a14 lacks).
    "a17_cube" -> { (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(
          (grouping(col("o_orderpriority")).cast("long") * 2 +
            grouping(col("o_orderstatus")).cast("long")).as("gid"),
          count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("revenue"))
        .select(
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("gid"), col("n"), col("revenue"))
        .orderBy("gid", "priority", "status")
    },

    // W8: ranking-window family. rank/dense_rank/percent_rank/cume_dist are
    // computed over a deliberately tie-heavy ordering (o_orderdate) — their
    // results are tie-order-independent; ntile REQUIRES a total order (its
    // assignment depends on row position), so it ranks by (totalprice, key).
    "w8_rank_family" -> { (s, d) =>
      val tieW = Window.partitionBy("o_orderpriority").orderBy("o_orderdate")
      val totalW = Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice", "o_orderkey")
      Tables.orders(s, d)
        .filter(col("o_custkey") < 200)
        .select(
          col("o_orderkey"), col("o_orderpriority"),
          rank().over(tieW).cast("long").as("rnk"),
          dense_rank().over(tieW).cast("long").as("drnk"),
          percent_rank().over(tieW).as("pct_rnk"),
          cume_dist().over(tieW).as("cume"),
          ntile(4).over(totalW).cast("long").as("quartile"))
        .orderBy("o_orderkey")
    },

    // W9: explicit ROWS BETWEEN frames — running sum (unbounded preceding)
    // and a 4-row moving window, exact-decimal so prefix sums hash-match.
    "w9_window_frames" -> { (s, d) =>
      val order = Seq("l_shipdate", "l_orderkey", "l_linenumber", "l_partkey",
        "l_suppkey").map(col)
      val runW = Window.partitionBy("l_returnflag").orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val frameW = Window.partitionBy("l_returnflag").orderBy(order: _*)
        .rowsBetween(-3, Window.currentRow)
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 1000)
        .withColumn("running_qty", dsumOver(col("l_quantity"), runW))
        .withColumn("frame_sum", dsumOver(col("l_extendedprice"), frameW))
        .withColumn("frame_cnt", count(lit(1)).over(frameW))
        .withColumn("moving_avg", round(col("frame_sum") / col("frame_cnt"), 4))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_returnflag"), col("running_qty"),
          col("frame_sum"), col("frame_cnt"), col("moving_avg"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    },

    // J12: range (band) join — fact against tiny interval table on a
    // BETWEEN-style predicate. The band table is broadcast, so the plan is a
    // BroadcastNestedLoopJoin over 4 rows — no shuffle of the fact side, the
    // only strategy that survives 100 TB (a shuffle theta-join would not).
    "j12_range_join" -> { (s, d) =>
      import s.implicits._
      val tiers = Seq(
        (0d, 100000d, "t1_small"), (100000d, 200000d, "t2_mid"),
        (200000d, 400000d, "t3_big"), (400000d, 1e9, "t4_huge"))
        .toDF("lo", "hi", "tier")
      Tables.orders(s, d)
        .join(broadcast(tiers),
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy("tier")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy("tier")
    },

    // U3: bag (multiset) set ops — INTERSECT ALL / EXCEPT ALL keep
    // duplicate multiplicity (min / left-minus-right counts).
    "u3_bag_set_ops" -> { (s, d) =>
      val r = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        .select(col("l_suppkey").as("suppkey"))
      val a = Tables.lineitem(s, d).filter(col("l_returnflag") === "A")
        .select(col("l_suppkey").as("suppkey"))
      val inter = r.intersectAll(a).withColumn("set_kind", lit("intersect_all"))
      val exc = r.exceptAll(a).withColumn("set_kind", lit("except_all"))
      inter.unionByName(exc)
        .groupBy("set_kind")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("suppkey")).as("n_distinct"))
        .orderBy("set_kind")
    },

    // F8: array-function battery — split/sort/slice/distinct/transform/
    // contains over token arrays (all codegen-friendly builtins; no UDF).
    "f8_array_ops" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("ts", split(col("text"), " "))
        .select(
          col("doc_id"),
          size(col("ts")).cast("long").as("n_tokens"),
          size(array_distinct(col("ts"))).cast("long").as("n_distinct"),
          array_join(slice(array_sort(col("ts")), 1, 3), " ").as("top3_sorted"),
          array_max(transform(col("ts"), t => length(t))).cast("long").as("max_tok_len"),
          array_contains(col("ts"), "the").cast("long").as("has_the"))
        .orderBy("doc_id")
    },

    // F9: edit distance — levenshtein between the first two words of each
    // part name + a length-normalized similarity ratio.
    "f9_edit_distance" -> { (s, d) =>
      Tables.part(s, d)
        .withColumn("ts", split(col("p_name"), " "))
        .filter(size(col("ts")) >= 2)
        .select(col("p_partkey"),
          col("ts").getItem(0).as("w0"), col("ts").getItem(1).as("w1"))
        .withColumn("lev", levenshtein(col("w0"), col("w1")).cast("long"))
        .withColumn("sim",
          round(lit(1.0) - col("lev") / greatest(length(col("w0")), length(col("w1"))), 4))
        .orderBy("p_partkey")
    },

    // Q5: correlated EXISTS + NOT EXISTS via the SQL surface (Catalyst
    // rewrites them into semi/anti joins — verified in PlanAuditSpec).
    "q5_exists_subquery" -> { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("q5_customer")
      Tables.orders(s, d).createOrReplaceTempView("q5_orders")
      s.sql(
        """SELECT c_custkey, c_name
          |FROM q5_customer c
          |WHERE c_custkey < 1000
          |  AND EXISTS (SELECT 1 FROM q5_orders o
          |              WHERE o.o_custkey = c.c_custkey
          |                AND o.o_orderpriority = '1-URGENT')
          |  AND NOT EXISTS (SELECT 1 FROM q5_orders o
          |                  WHERE o.o_custkey = c.c_custkey
          |                    AND o.o_orderstatus = 'F'
          |                    AND o.o_totalprice > 300000)
          |ORDER BY c_custkey""".stripMargin)
    },

    // S4: JSON sink + source round trip — export a table as JSON-lines,
    // read it back with the original schema (schema-first read, no
    // inference on the hot path), prove losslessness against the oracle.
    "s4_json_roundtrip" -> { (s, d) =>
      val nation = Tables.nation(s, d)
      val out = java.nio.file.Files.createTempDirectory("graft_json_").toString
      nation.write.mode("overwrite").json(out)
      s.read.schema(nation.schema).json(out)
        .orderBy("n_nationkey")
    })

  val oracles: Map[String, String] = Map(
    "a16_grouping_sets" ->
      """SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
                COALESCE(o_orderstatus, 'ALL') AS status,
                CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
                CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
                COUNT(*) AS n,
                CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,8))), 4) AS DOUBLE) AS revenue
         FROM orders
         GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderstatus), ())
         ORDER BY g_priority, g_status, priority, status""",

    "a17_cube" ->
      """SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
                COALESCE(o_orderstatus, 'ALL') AS status,
                CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS BIGINT) AS gid,
                COUNT(*) AS n,
                CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,8))), 4) AS DOUBLE) AS revenue
         FROM orders
         GROUP BY CUBE (o_orderpriority, o_orderstatus)
         ORDER BY gid, priority, status""",

    "w8_rank_family" ->
      """SELECT o_orderkey, o_orderpriority,
                CAST(RANK() OVER tie AS BIGINT) AS rnk,
                CAST(DENSE_RANK() OVER tie AS BIGINT) AS drnk,
                PERCENT_RANK() OVER tie AS pct_rnk,
                CUME_DIST() OVER tie AS cume,
                CAST(NTILE(4) OVER tot AS BIGINT) AS quartile
         FROM orders
         WHERE o_custkey < 200
         WINDOW tie AS (PARTITION BY o_orderpriority ORDER BY o_orderdate),
                tot AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_orderkey""",

    "w9_window_frames" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_returnflag,
                CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(30,8))) OVER run, 4) AS DOUBLE) AS running_qty,
                CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) OVER frame, 4) AS DOUBLE) AS frame_sum,
                COUNT(*) OVER frame AS frame_cnt,
                ROUND(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) OVER frame, 4) AS DOUBLE)
                      / (COUNT(*) OVER frame), 4) AS moving_avg
         FROM lineitem
         WHERE l_orderkey < 1000
         WINDOW run AS (PARTITION BY l_returnflag
                        ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey, l_suppkey
                        ROWS UNBOUNDED PRECEDING),
                frame AS (PARTITION BY l_returnflag
                          ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey, l_suppkey
                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
         ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""",

    "j12_range_join" ->
      """SELECT tier, COUNT(*) AS n,
                CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,8))), 4) AS DOUBLE) AS revenue
         FROM orders
         JOIN (VALUES (0.0, 100000.0, 't1_small'), (100000.0, 200000.0, 't2_mid'),
                      (200000.0, 400000.0, 't3_big'), (400000.0, 1000000000.0, 't4_huge'))
              AS tiers(lo, hi, tier)
           ON o_totalprice >= lo AND o_totalprice < hi
         GROUP BY tier ORDER BY tier""",

    "u3_bag_set_ops" ->
      """WITH r AS (SELECT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'R'),
            a AS (SELECT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'A'),
            tagged AS (
              SELECT suppkey, 'intersect_all' AS set_kind
              FROM (SELECT suppkey FROM r INTERSECT ALL SELECT suppkey FROM a)
              UNION ALL
              SELECT suppkey, 'except_all'
              FROM (SELECT suppkey FROM r EXCEPT ALL SELECT suppkey FROM a))
         SELECT set_kind, COUNT(*) AS n_rows, COUNT(DISTINCT suppkey) AS n_distinct
         FROM tagged GROUP BY 1 ORDER BY 1""",

    "f8_array_ops" ->
      """SELECT doc_id,
                CAST(len(ts) AS BIGINT) AS n_tokens,
                CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct,
                array_to_string(list_sort(ts)[1:3], ' ') AS top3_sorted,
                CAST(list_max(list_transform(ts, t -> length(t))) AS BIGINT) AS max_tok_len,
                CAST(list_contains(ts, 'the') AS BIGINT) AS has_the
         FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
         ORDER BY doc_id""",

    "f9_edit_distance" ->
      """SELECT p_partkey, ts[1] AS w0, ts[2] AS w1,
                CAST(levenshtein(ts[1], ts[2]) AS BIGINT) AS lev,
                ROUND(1.0 - CAST(levenshtein(ts[1], ts[2]) AS DOUBLE)
                      / GREATEST(length(ts[1]), length(ts[2])), 4) AS sim
         FROM (SELECT p_partkey, string_split(p_name, ' ') AS ts FROM part)
         WHERE len(ts) >= 2
         ORDER BY p_partkey""",

    "q5_exists_subquery" ->
      """SELECT c_custkey, c_name
         FROM customer c
         WHERE c_custkey < 1000
           AND EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_orderpriority = '1-URGENT')
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderstatus = 'F'
                             AND o.o_totalprice > 300000)
         ORDER BY c_custkey""",

    "s4_json_roundtrip" ->
      "SELECT * FROM nation ORDER BY n_nationkey")
}
