package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Exact._

/** Scalar-function surface (SURVEY.md §2.8) + subquery patterns (§2.9).
  *
  * Covers the reference's hash/ID generation (standardize.py:35,100,182),
  * date-part extraction with the DuckDB DOW convention (0=Sunday — Spark's
  * `dayofweek` is 1-based, normalized here with -1; SURVEY.md §7.4 risk 2),
  * NULLIF-guarded ratio math (standardize.py:57–59), nested CASE chains,
  * the `generate_series` date spine (02_dimension_tables.sql:87), JSON
  * extraction, and the scalar-subquery-threshold pattern (14:70–79).
  */
object ScalarOps extends graft.QueryFamily {
  val queries: Map[String, Q] = Map(
    // F18: TEMPORAL BUCKETING battery — the three grains every rollup
    // pipeline floors to: sub-hour (15-min, via integer epoch division —
    // exact, no engine truncation conventions involved), ISO week and
    // calendar month (date_trunc, same Monday-start / first-of-month
    // conventions in both engines). One pass, three grains, counts per
    // bucket triple.
    "f18_time_buckets" -> { (s, d) =>
      graft.Tables.events(s, d)
        .withColumn("b15",
          expr("timestamp_seconds((unix_micros(ts) div 900000000) * 900)"))
        .withColumn("wk", date_trunc("week", col("ts")))
        .withColumn("mo", date_trunc("month", col("ts")))
        .groupBy("wk", "mo")
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("b15")).as("n_15min_buckets"))
        .orderBy("wk", "mo")
    },

    // F1: content-hash ID — md5(concat) trip-id scheme (standardize.py:35).
    "f1_hash_id" -> { (s, d) =>
      // r14 (guide §2.6): hash AFTER the global sort — the md5 projection
      // then runs on the sort's range partitions in parallel instead of in
      // the scan's 1–3 tasks, with no extra exchange. Same rows, same
      // order: row_id is a pure function of the sort key (ties are
      // whole-row duplicates either way).
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber")
        .select(
          col("l_orderkey"), col("l_linenumber"),
          md5(concat_ws("|", lit("li"), col("l_orderkey"), col("l_linenumber")))
            .as("row_id"))
    },

    // F2: date-part extraction battery (standardize.py:40–46,
    // 02_dimension_tables.sql:62–88). dow_duck = Spark dayofweek - 1.
    "f2_datetime_parts" -> { (s, d) =>
      Tables.orders(s, d)
        .select(to_date(col("o_orderdate")).as("day")).distinct()
        .select(
          col("day"),
          year(col("day")).cast("long").as("yr"),
          month(col("day")).cast("long").as("mon"),
          dayofmonth(col("day")).cast("long").as("dom"),
          (dayofweek(col("day")) - 1).cast("long").as("dow_duck"),
          date_format(col("day"), "EEEE").as("day_name"),
          date_format(col("day"), "MMMM").as("month_name"),
          quarter(col("day")).cast("long").as("qtr"),
          dayofyear(col("day")).cast("long").as("doy"),
          unix_timestamp(col("day").cast("timestamp")).as("epoch_s"),
          (dayofweek(col("day")).isin(1, 7)).as("is_weekend"))
        .orderBy("day")
    },

    // F3: NULL-safe ratio math — safeDiv/abs/coalesce (standardize.py:57–59).
    // Per-row IEEE arithmetic: exact cross-engine, no rounding needed.
    "f3_safe_math" -> { (s, d) =>
      Tables.lineitem(s, d)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          safeDiv(col("l_extendedprice"), col("l_quantity")).as("unit_price"),
          abs(col("l_discount") - 0.05).as("disc_dev"),
          coalesce(safeDiv(lit(1.0), col("l_quantity") - col("l_quantity")), lit(-1.0))
            .as("guarded"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // F4: nested CASE chains (11:63–69, 12:84–92).
    "f4_case_chain" -> { (s, d) =>
      Tables.orders(s, d)
        .withColumn("tier",
          when(col("o_totalprice") > 300000,
            when(col("o_orderpriority") === "1-URGENT", "vip_urgent").otherwise("vip"))
          .when(col("o_totalprice") > 150000, "mid")
          .when(col("o_orderstatus") === "O", "open_small")
          .otherwise("small"))
        .groupBy("tier")
        .agg(count(lit(1)).as("n"), davg(col("o_totalprice")).as("avg_price"))
        .orderBy("tier")
    },

    // F5: date spine via sequence()+explode (02_dimension_tables.sql:87
    // `generate_series`).
    "f5_date_spine" -> { (s, d) =>
      s.range(1).select(explode(expr(
          "sequence(to_date('2024-01-01'), to_date('2024-03-31'), interval 1 day)"))
          .as("day"))
        .select(
          col("day"),
          (dayofweek(col("day")) - 1).cast("long").as("dow_duck"),
          dayofweek(col("day")).isin(1, 7).as("is_weekend"),
          month(col("day")).cast("long").as("mon"))
        .orderBy("day")
    },

    // F6: JSON extraction from a string props column (events.props).
    "f6_json_extract" -> { (s, d) =>
      Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(
          sum(col("k")).as("sum_k"),
          count(col("k")).as("n_k"),
          countDistinct(col("k")).as("n_distinct_k"))
        .orderBy("event_type")
    },

    // Q2: uncorrelated scalar subquery as a conditional-agg threshold
    // (14:70–79): p25 of the order-date distribution splits early/late.
    // The threshold rides PercentileCont (bit-identical to the builtin;
    // the epoch domain is calendar-bounded so the builtin's value map was
    // safe HERE, but the r13 source tripwire pins zero ordered-set
    // builtins anywhere rather than carrying per-site boundedness proofs).
    "q2_scalar_subquery" -> { (s, d) =>
      val o = Tables.orders(s, d)
        .withColumn("epoch_s", unix_timestamp(col("o_orderdate")))
      val thr = graft.operators.PercentileCont.group(
        o.withColumn("gq", lit(1)), Seq("gq"),
        Seq(graft.operators.PercentileCont.Spec("thr", "epoch_s", 1, 4)))
        .drop("gq")
      o.crossJoin(broadcast(thr))
        .agg(
          count(when(col("epoch_s") <= col("thr"), lit(1))).as("n_early"),
          count(when(col("epoch_s") > col("thr"), lit(1))).as("n_late"),
          davg(when(col("epoch_s") <= col("thr"), col("o_totalprice"))).as("early_avg"),
          davg(when(col("epoch_s") > col("thr"), col("o_totalprice"))).as("late_avg"))
    })

  val oracles: Map[String, String] = Map(
    "f18_time_buckets" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
          b AS (SELECT date_trunc('week', ts) AS wk,
                       date_trunc('month', ts) AS mo,
                       to_timestamp((epoch_us(ts) // 900000000) * 900) AS b15
                FROM e)
          SELECT CAST(wk AS TIMESTAMP) AS wk, CAST(mo AS TIMESTAMP) AS mo,
                 COUNT(*) AS n,
                 COUNT(DISTINCT b15) AS n_15min_buckets
          FROM b GROUP BY 1, 2 ORDER BY 1, 2""",

    "f1_hash_id" ->
      """SELECT l_orderkey, l_linenumber,
                md5('li' || '|' || CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)) AS row_id
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",

    "f2_datetime_parts" ->
      """SELECT day,
                CAST(EXTRACT(YEAR FROM day) AS BIGINT) AS yr,
                CAST(EXTRACT(MONTH FROM day) AS BIGINT) AS mon,
                CAST(EXTRACT(DAY FROM day) AS BIGINT) AS dom,
                CAST(EXTRACT(DOW FROM day) AS BIGINT) AS dow_duck,
                dayname(day) AS day_name,
                monthname(day) AS month_name,
                CAST(EXTRACT(QUARTER FROM day) AS BIGINT) AS qtr,
                CAST(EXTRACT(DOY FROM day) AS BIGINT) AS doy,
                CAST(epoch(CAST(day AS TIMESTAMP)) AS BIGINT) AS epoch_s,
                EXTRACT(DOW FROM day) IN (0, 6) AS is_weekend
         FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders)
         ORDER BY day""",

    "f3_safe_math" ->
      """SELECT l_orderkey, l_linenumber,
                l_extendedprice / NULLIF(l_quantity, 0) AS unit_price,
                ABS(l_discount - 0.05) AS disc_dev,
                COALESCE(1.0 / NULLIF(l_quantity - l_quantity, 0), -1.0) AS guarded
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",

    "f4_case_chain" ->
      """SELECT CASE WHEN o_totalprice > 300000 THEN
                       CASE WHEN o_orderpriority = '1-URGENT' THEN 'vip_urgent' ELSE 'vip' END
                     WHEN o_totalprice > 150000 THEN 'mid'
                     WHEN o_orderstatus = 'O' THEN 'open_small'
                     ELSE 'small' END AS tier,
                COUNT(*) AS n,
                CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,8))), 4) AS DOUBLE) / COUNT(o_totalprice) AS avg_price
         FROM orders GROUP BY 1 ORDER BY 1""",

    "f5_date_spine" ->
      """SELECT CAST(day AS DATE) AS day,
                CAST(EXTRACT(DOW FROM day) AS BIGINT) AS dow_duck,
                EXTRACT(DOW FROM day) IN (0, 6) AS is_weekend,
                CAST(EXTRACT(MONTH FROM day) AS BIGINT) AS mon
         FROM (SELECT UNNEST(generate_series(DATE '2024-01-01', DATE '2024-03-31', INTERVAL 1 DAY)) AS day)
         ORDER BY day""",

    "f6_json_extract" ->
      """SELECT event_type,
                CAST(SUM(k) AS BIGINT) AS sum_k, COUNT(k) AS n_k,
                COUNT(DISTINCT k) AS n_distinct_k
         FROM (SELECT event_type,
                      CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
               FROM events)
         GROUP BY 1 ORDER BY 1""",

    "q2_scalar_subquery" ->
      """WITH o AS (SELECT CAST(epoch(o_orderdate) AS DOUBLE) AS epoch_s, o_totalprice FROM orders),
            t AS (SELECT quantile_cont(epoch_s, 0.25) AS thr FROM o)
         SELECT COUNT(CASE WHEN epoch_s <= thr THEN 1 END) AS n_early,
                COUNT(CASE WHEN epoch_s > thr THEN 1 END) AS n_late,
                CAST(ROUND(SUM(CAST(CASE WHEN epoch_s <= thr THEN o_totalprice END AS DECIMAL(30,8))), 4) AS DOUBLE)
                  / COUNT(CASE WHEN epoch_s <= thr THEN o_totalprice END) AS early_avg,
                CAST(ROUND(SUM(CAST(CASE WHEN epoch_s > thr THEN o_totalprice END AS DECIMAL(30,8))), 4) AS DOUBLE)
                  / COUNT(CASE WHEN epoch_s > thr THEN o_totalprice END) AS late_avg
         FROM o, t""")
}
