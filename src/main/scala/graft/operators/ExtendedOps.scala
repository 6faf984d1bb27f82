package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Exact._

/** Operators beyond the reference's surface that round out the engine:
  * string-function battery, INTERSECT/EXCEPT set ops, as-of join (by
  * composition — window carry-forward, SURVEY §7.3 preference (a)), and
  * ROLLUP multi-level aggregation.
  */
object ExtendedOps extends graft.QueryFamily {
  val queries: Map[String, Q] = Map(
    // J15: NULL-SAFE equi-join (<=>): dimension lookups where NULL is a
    // legitimate key ("unknown" bucket) must MATCH the dim's NULL row —
    // a plain equi-join silently drops every NULL-keyed fact row, one of
    // the classic star-schema data-loss bugs. The fact key is NULL for
    // negative readings; the dim carries an explicit NULL→'unknown' row,
    // and the join uses <=> so those rows land in the unknown bucket
    // instead of vanishing.
    "j15_nullsafe_join" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .withColumn("k", when(col("value") >= 0, col("event_type")))
      val dim = ev.select(col("k")).distinct()
        .withColumn("bucket", coalesce(col("k"), lit("unknown")))
      ev.join(dim, ev("k") <=> dim("k"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .orderBy("bucket")
    },

    // F17: BITMASK aggregation — capability-flags rollup: each user's set
    // of seen event types packed into one integer via bit_or (mergeable,
    // constant-size state — the exact counterpart of a bloom/HLL summary
    // for small enumerable sets), then the distribution of masks. The
    // standard "which feature combinations occur" rollup.
    "f17_bitmask_agg" -> { (s, d) =>
      Tables.events(s, d)
        .withColumn("flag", expr(
          """shiftleft(1L, CAST(CASE event_type
             WHEN 'click' THEN 0 WHEN 'view' THEN 1
             WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END AS INT))"""))
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(bit_or(col("flag")).as("type_mask"))
        .groupBy("type_mask")
        .agg(count(lit(1)).as("n_user_days"))
        .orderBy("type_mask")
    },

    // F7: string-function battery over part names.
    "f7_string_functions" -> { (s, d) =>
      Tables.part(s, d)
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("upper_name"),
          length(col("p_name")).cast("long").as("name_len"),
          substring(col("p_name"), 1, 5).as("prefix"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
          lpad(col("p_brand"), 12, "0").as("padded_brand"),
          split(col("p_name"), " ").getItem(0).as("first_word"),
          concat_ws("::", col("p_brand"), col("p_type")).as("brand_type"),
          trim(lit("  x  ")).as("trimmed"))
        .orderBy("p_partkey")
    },

    // U2: INTERSECT / EXCEPT (distinct set semantics; absent from the
    // reference — SURVEY §2.7 — but part of a complete relational surface).
    "u2_intersect_except" -> { (s, d) =>
      val orderCusts = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey"))
      val finishedCusts = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))
      val both = orderCusts.intersect(finishedCusts)
        .withColumn("set_kind", lit("open_and_finished"))
      val onlyOpen = orderCusts.except(finishedCusts)
        .withColumn("set_kind", lit("open_only"))
      both.unionByName(onlyOpen)
        .groupBy("set_kind").agg(count(lit(1)).as("n_custs"))
        .orderBy("set_kind")
    },

    // J11: as-of join by composition — attach the most recent preceding
    // 'purchase' value per user to every event (last_value ignoreNulls over
    // an unbounded-preceding frame). DuckDB owns a native ASOF JOIN; Spark
    // expresses the same with a carry-forward window — one shuffle on the
    // partition key, no range-join blowup.
    "j11_asof_join" -> { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.events(s, d)
        .withColumn("last_purchase_value",
          last(when(col("event_type") === "purchase", col("value")), ignoreNulls = true)
            .over(w))
        .filter(col("user_id") < 20)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("last_purchase_value"))
        .orderBy("user_id", "event_id")
    },

    // A15: PIVOT — wide conditional aggregation with an explicit value list
    // (the DataFrame twin of the reference's SUM(CASE WHEN service_type=…)
    // pivot-style aggregates, aggregations.py:137–157).
    "a15_pivot" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .withColumnRenamed("F", "n_f")
        .withColumnRenamed("O", "n_o")
        .withColumnRenamed("P", "n_p")
        .orderBy("o_orderpriority")
    },

    // A14: ROLLUP — multi-level totals in one pass (absent from the
    // reference; the 100 TB replacement for re-aggregating agg tables).
    "a14_rollup" -> { (s, d) =>
      Tables.orders(s, d)
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .select(
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("revenue"))
        .orderBy("priority", "status")
    })

  val oracles: Map[String, String] = Map(
    "j15_nullsafe_join" ->
      """WITH ev AS (SELECT CASE WHEN "value" >= 0 THEN event_type END AS k, "value"
                     FROM events),
          dim AS (SELECT k, COALESCE(k, 'unknown') AS bucket
                  FROM (SELECT DISTINCT k FROM ev))
          SELECT d.bucket, COUNT(*) AS n,
                 CAST(ROUND(SUM(CAST(ev."value" AS DECIMAL(30,8))), 4) AS DOUBLE) AS total_value
          FROM ev JOIN dim d ON ev.k IS NOT DISTINCT FROM d.k
          GROUP BY 1 ORDER BY 1""",

    "f17_bitmask_agg" ->
      """WITH flags AS (
           SELECT user_id, CAST(ts AS DATE) AS day,
                  (CAST(1 AS BIGINT) << (CASE event_type
                     WHEN 'click' THEN 0 WHEN 'view' THEN 1
                     WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END)) AS flag
           FROM events),
          masks AS (SELECT user_id, day, CAST(bit_or(flag) AS BIGINT) AS type_mask
                    FROM flags GROUP BY 1, 2)
          SELECT type_mask, COUNT(*) AS n_user_days
          FROM masks GROUP BY 1 ORDER BY 1""",

    "f7_string_functions" ->
      """SELECT p_partkey,
                UPPER(p_name) AS upper_name,
                CAST(LENGTH(p_name) AS BIGINT) AS name_len,
                SUBSTR(p_name, 1, 5) AS prefix,
                regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
                LPAD(p_brand, 12, '0') AS padded_brand,
                string_split(p_name, ' ')[1] AS first_word,
                p_brand || '::' || p_type AS brand_type,
                TRIM('  x  ') AS trimmed
         FROM part ORDER BY p_partkey""",

    "u2_intersect_except" ->
      """WITH open_c AS (SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'),
            fin_c AS (SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'),
            tagged AS (
              SELECT custkey, 'open_and_finished' AS set_kind FROM (SELECT custkey FROM open_c INTERSECT SELECT custkey FROM fin_c)
              UNION ALL
              SELECT custkey, 'open_only' FROM (SELECT custkey FROM open_c EXCEPT SELECT custkey FROM fin_c))
         SELECT set_kind, COUNT(*) AS n_custs FROM tagged GROUP BY 1 ORDER BY 1""",

    "j11_asof_join" ->
      """SELECT user_id, event_id, event_type, "value",
                LAST_VALUE(CASE WHEN event_type = 'purchase' THEN "value" END IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS last_purchase_value
         FROM events WHERE user_id < 20
         ORDER BY user_id, event_id""",

    "a15_pivot" ->
      """SELECT o_orderpriority,
                COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
                COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
                COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
         FROM orders GROUP BY 1 ORDER BY 1""",

    "a14_rollup" ->
      """SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
                COALESCE(o_orderstatus, 'ALL') AS status,
                COUNT(*) AS n,
                CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,8))), 4) AS DOUBLE) AS revenue
         FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
         ORDER BY priority, status""")
}
