package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Exact._

/** Join operators (SURVEY.md §2.3).
  *
  * Broadcast policy: explicit `broadcast()` hints are reserved for relations
  * whose size is BOUNDED BY SCHEMA — the reference's dims are 3–1826 rows
  * (J1–J4) and nation/region are fixed 25/5 rows at every SF. Tables that
  * grow with the data (part, customer, supplier, orders, lineitem) get NO
  * hint: at 100 TB they exceed any broadcast threshold and an explicit hint
  * would override AQE's size check into a driver OOM. AQE's runtime size
  * statistics pick broadcast for them automatically when (and only when)
  * they are actually small. Fact⋈fact joins (qc_reversed_ts, j5) shuffle on
  * their keys and rely on AQE for skew handling.
  */
object JoinOps extends graft.QueryFamily {
  val queries: Map[String, Q] = Map(
    // J14: SALTED JOIN — the manual skew cure when one join key is hot
    // enough to overwhelm a single reducer and AQE's skew splitting can't
    // help (e.g. a single key larger than an executor). The probe side
    // spreads each key over SALT sub-partitions with a deterministic salt;
    // the build side replicates each row SALT times (explode of a literal
    // sequence — a constant-width Generate, no shuffle of its own); the
    // join key becomes (key, salt), so the hot key's rows land on SALT
    // reducers instead of one. Result is provably the plain join (oracle
    // replays it unsalted).
    "j14_salted_join" -> { (s, d) =>
      val SALT = 8
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .withColumn("salt", pmod(col("l_linenumber"), lit(SALT)))
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .withColumn("salt", explode(expr(s"sequence(0, ${SALT - 1})")))
      // SHUFFLE_HASH, not the default sort-merge: salting exists to spread
      // a hot key across partitions, and hash-building the replicated side
      // skips both sides' sorts — the standard pairing in the skew recipe
      // (salted keys are unique-ish per partition, so the hash table stays
      // flat). Benched 1.04 s -> 0.64 s at sf0.1.
      li.join(ord.hint("shuffle_hash"),
          li("l_orderkey") === ord("o_orderkey") && li("salt") === ord("salt"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("o_orderpriority")
    },

    // J1/J2/J3/J4: fact ⋈ tiny dim, broadcast inner hash join (01:15, 02:15).
    "j1_broadcast_dim" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      li.join(p, li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(
          count(lit(1)).as("n"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy("p_brand")
    },

    // J3-chain: multi-hop dim joins (customer→nation→region), all broadcast.
    "j3_multi_hop_dims" -> { (s, d) =>
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_custs"), davg(col("c_acctbal")).as("avg_acctbal"))
        .orderBy("r_name")
    },

    // J5: double-dim join — two aliased copies of the same dim
    // (06_airport_trips_analysis.sql:19–20). Classic volume-shipping shape:
    // customer nation vs supplier nation.
    "j5_double_dim" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val sp = Tables.supplier(s, d)
      val n1 = Tables.nation(s, d).select(
        col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      val n2 = Tables.nation(s, d).select(
        col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(sp, li("l_suppkey") === sp("s_suppkey"))
        .join(broadcast(n1), c("c_nationkey") === n1("c_nk"))
        .join(broadcast(n2), sp("s_nationkey") === n2("s_nk"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
          count(lit(1)).as("n"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy("cust_nation", "supp_nation")
    },

    // J6: before/after self-comparison via two aggs + left join
    // (12_cbd_congestion_fee_impact.sql:94–99).
    "j6_before_after" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val cut = lit("2024-01-16").cast("timestamp")
      val before = ev.filter(col("ts") < cut).groupBy("event_type")
        .agg(count(lit(1)).as("n_before"), davg(col("value")).as("avg_before"))
      val after = ev.filter(col("ts") >= cut).groupBy("event_type")
        .agg(count(lit(1)).as("n_after"), davg(col("value")).as("avg_after"))
      before.join(after, Seq("event_type"), "left")
        .withColumn("avg_change", col("avg_after") - col("avg_before"))
        .orderBy("event_type")
    },

    // J7: IN-subquery → left-semi join (12:44).
    "j7_semi_join" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      li.join(urgent, li("l_orderkey") === urgent("o_orderkey"), "left_semi")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("l_returnflag")
    },

    // J8: NOT-IN → left-anti join (schema_drift.py:213–215 idempotent-load
    // pattern): customers with no orders.
    "j8_anti_join" -> { (s, d) =>
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).select(col("o_custkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_custs_no_orders"))
        .orderBy("c_nationkey")
    },

    // J9: agg-to-agg join (03_market_share_trends.sql:19–36): daily order
    // rollup ⋈ daily shipment rollup.
    "j9_agg_agg_join" -> { (s, d) =>
      val daily_o = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("order_value"))
      val daily_s = Tables.lineitem(s, d)
        .groupBy(to_date(col("l_shipdate")).as("day"))
        .agg(count(lit(1)).as("n_shipped"))
      daily_o.join(daily_s, Seq("day"))
        .orderBy("day")
    },

    // J10: CTE-to-CTE equi join — per-group metrics ⋈ group totals (14:55–58).
    "j10_cte_share" -> { (s, d) =>
      val o = Tables.orders(s, d)
        .withColumn("order_month", date_trunc("month", col("o_orderdate")))
      val perPrio = o.groupBy("order_month", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
      val totals = o.groupBy("order_month")
        .agg(count(lit(1)).as("month_total"))
      perPrio.join(totals, Seq("order_month"))
        .withColumn("share", col("n").cast("double") / col("month_total"))
        .orderBy("order_month", "o_orderpriority")
    },

    // J19: AS-OF join — for each event, the entity's latest order state AT
    // OR BEFORE the event time (the point-in-time feature lookup every
    // training pipeline needs: "what did we know about this entity when
    // the observation was made?" — joining current state would leak the
    // future). Spark has no native as-of; the distributed form is the
    // UNION + WINDOW rewrite: tag both sides, union them, and take
    // last(state payload, ignoreNulls) over (entity, time) — ONE exchange
    // on the entity key, no range-join row explosion, no per-entity
    // collect. Both sides pre-aggregate per (entity, t) so the as-of match
    // is unique and the result engine-independent; probe rows sort AFTER
    // the state row sharing their timestamp (tag 1 > 0), making the match
    // inclusive (<=). Integer-microsecond times per j17's convention.
    "j19_asof_join" -> { (s, d) =>
      val state = Tables.orders(s, d)
        .select(col("o_custkey").as("k"),
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("t"),
          col("o_orderkey"), col("o_totalprice"))
        .groupBy("k", "t")
        .agg(max(col("o_orderkey")).as("last_orderkey"),
          dsum(col("o_totalprice")).as("day_spend"))
        .select(col("k"), col("t"), lit(0).as("tag"),
          col("last_orderkey"), col("day_spend"), col("t").as("state_t"),
          lit(null).cast("long").as("n_ev"))
      val probe = Tables.events(s, d)
        .select(col("user_id").as("k"), expr("unix_micros(ts)").as("t"))
        .groupBy("k", "t")
        .agg(count(lit(1)).as("n_ev"))
        .select(col("k"), col("t"), lit(1).as("tag"),
          lit(null).cast("long").as("last_orderkey"),
          lit(null).cast("double").as("day_spend"),
          lit(null).cast("long").as("state_t"), col("n_ev"))
      val w = Window.partitionBy("k").orderBy("t", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      state.unionByName(probe)
        .withColumn("asof_t", last(col("state_t"), ignoreNulls = true).over(w))
        .withColumn("asof_key", last(col("last_orderkey"), ignoreNulls = true).over(w))
        .withColumn("asof_spend", last(col("day_spend"), ignoreNulls = true).over(w))
        .filter(col("tag") === 1 && col("asof_t").isNotNull)
        .select(col("k").as("user_id"), col("t").as("ev_t_us"), col("n_ev"),
          col("asof_t").as("order_t_us"),
          (col("t") - col("asof_t")).as("staleness_us"),
          col("asof_key").as("last_orderkey"),
          col("asof_spend").as("day_spend"))
        .orderBy("user_id", "ev_t_us")
    })

  val oracles: Map[String, String] = Map(
    // DuckDB's NATIVE ASOF JOIN is the oracle — the union+window rewrite
    // must be semantically invisible. Events pre-aggregate per (entity, t)
    // on both sides so the greatest-t match is unique.
    "j19_asof_join" ->
      """WITH state AS (
           SELECT o_custkey AS k, epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS t,
                  CAST(MAX(o_orderkey) AS BIGINT) AS last_orderkey,
                  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,8))), 4) AS DOUBLE) AS day_spend
           FROM orders GROUP BY 1, 2),
          probe AS (
            SELECT user_id AS k, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
                   COUNT(*) AS n_ev
            FROM events GROUP BY 1, 2)
          SELECT p.k AS user_id, p.t AS ev_t_us, p.n_ev,
                 s.t AS order_t_us,
                 p.t - s.t AS staleness_us,
                 s.last_orderkey,
                 s.day_spend
          FROM probe p ASOF JOIN state s ON p.k = s.k AND s.t <= p.t
          ORDER BY user_id, ev_t_us""",

    // salting is algebraically invisible: replay as the plain join.
    "j14_salted_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
                CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,8))), 4) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY 1""",

    "j1_broadcast_dim" ->
      """SELECT p_brand, COUNT(*) AS n,
                CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 4) AS DOUBLE) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1 ORDER BY 1""",

    "j3_multi_hop_dims" ->
      """SELECT r_name, COUNT(*) AS n_custs,
                CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(30,8))), 4) AS DOUBLE) / COUNT(c_acctbal) AS avg_acctbal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1 ORDER BY 1""",

    "j5_double_dim" ->
      """SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
                COUNT(*) AS n,
                CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 4) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n1 ON c_nationkey = n1.n_nationkey
         JOIN nation n2 ON s_nationkey = n2.n_nationkey
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "j6_before_after" ->
      """WITH before AS (
           SELECT event_type, COUNT(*) AS n_before,
                  CAST(ROUND(SUM(CAST("value" AS DECIMAL(30,8))), 4) AS DOUBLE) / COUNT("value") AS avg_before
           FROM events WHERE ts < TIMESTAMP '2024-01-16' GROUP BY 1),
         after AS (
           SELECT event_type, COUNT(*) AS n_after,
                  CAST(ROUND(SUM(CAST("value" AS DECIMAL(30,8))), 4) AS DOUBLE) / COUNT("value") AS avg_after
           FROM events WHERE ts >= TIMESTAMP '2024-01-16' GROUP BY 1)
         SELECT b.event_type, b.n_before, b.avg_before, a.n_after, a.avg_after,
                a.avg_after - b.avg_before AS avg_change
         FROM before b LEFT JOIN after a ON b.event_type = a.event_type
         ORDER BY 1""",

    "j7_semi_join" ->
      """SELECT l_returnflag, COUNT(*) AS n,
                CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(30,8))), 4) AS DOUBLE) AS sum_qty
         FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
         GROUP BY 1 ORDER BY 1""",

    "j8_anti_join" ->
      """SELECT c_nationkey, COUNT(*) AS n_custs_no_orders
         FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY 1 ORDER BY 1""",

    "j9_agg_agg_join" ->
      """WITH daily_o AS (
           SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_orders,
                  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,8))), 4) AS DOUBLE) AS order_value
           FROM orders GROUP BY 1),
         daily_s AS (
           SELECT CAST(l_shipdate AS DATE) AS day, COUNT(*) AS n_shipped
           FROM lineitem GROUP BY 1)
         SELECT daily_o.day, n_orders, order_value, n_shipped
         FROM daily_o JOIN daily_s ON daily_o.day = daily_s.day
         ORDER BY 1""",

    "j10_cte_share" ->
      """WITH o AS (
           SELECT date_trunc('month', o_orderdate) AS order_month, o_orderpriority
           FROM orders),
         per_prio AS (
           SELECT order_month, o_orderpriority, COUNT(*) AS n FROM o GROUP BY 1, 2),
         totals AS (
           SELECT order_month, COUNT(*) AS month_total FROM o GROUP BY 1)
         SELECT p.order_month, p.o_orderpriority, p.n, t.month_total,
                CAST(p.n AS DOUBLE) / t.month_total AS share
         FROM per_prio p JOIN totals t ON p.order_month = t.order_month
         ORDER BY 1, 2""")
}
