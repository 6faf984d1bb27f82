package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Exact._

/** Reshape + nested-type operators (§2.7/§2.8 breadth beyond the
  * reference's flat-relational surface):
  *
  * - U4 `u4_unpivot`: wide → long melt via Spark's native `Dataset.unpivot`
  *   (the inverse of a15's pivot). The reference ships its wide aggregate
  *   tables straight to dashboards; a melt is the first step of any
  *   metric-store export. Constant-width: no shuffle, pure projection.
  * - F12 `f12_struct_map`: nested struct/map construction and field access
  *   — the column shapes a training-data manifest carries (typed metadata
  *   structs, tag maps) — flattened back to scalars so the DuckDB oracle
  *   compares plain columns.
  */
object ReshapeOps extends graft.QueryFamily {
  val queries: Map[String, Q] = Map(
    "u4_unpivot" -> { (s, d) =>
      val wide = Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).cast("double").as("n_orders"),
          dsum(col("o_totalprice")).as("total_value"),
          davg(col("o_totalprice")).as("avg_value"))
      wide.unpivot(
        Array(col("o_orderpriority")),
        Array(col("n_orders"), col("total_value"), col("avg_value")),
        "metric", "value")
        .orderBy("o_orderpriority", "metric")
    },

    // F13: argmax/argmin aggregates — dominant and rarest language per
    // source via max_by/min_by. Ties are broken deterministically by
    // encoding (count, lang) as one zero-padded sortable key, the same
    // encoding the DuckDB arg_max/arg_min oracle uses (its 1.0 overloads
    // take scalar ordering keys only).
    "f13_argmax" -> { (s, d) =>
      val counts = Tables.documents(s, d)
        .groupBy("source", "lang").agg(count(lit(1)).as("n"))
        .withColumn("ord", format_string("%010d|%s", col("n"), col("lang")))
      counts.groupBy("source")
        .agg(
          max_by(col("lang"), col("ord")).as("dominant_lang"),
          max(col("n")).as("dominant_n"),
          min_by(col("lang"), col("ord")).as("rarest_lang"),
          sum(col("n")).as("total_docs"))
        .withColumn("dominant_share",
          col("dominant_n").cast("double") / col("total_docs"))
        .orderBy("source")
    },

    "f12_struct_map" -> { (s, d) =>
      Tables.nation(s, d)
        .withColumn("info",
          struct(col("n_name").as("name"), col("n_regionkey").as("region")))
        .withColumn("tags",
          map(lit("key"), col("n_nationkey"),
              lit("region2x"), col("n_regionkey") * 2))
        .select(
          col("n_nationkey"),
          col("info.name").as("info_name"),
          col("info.region").as("info_region"),
          element_at(col("tags"), "key").as("tag_key"),
          element_at(col("tags"), "region2x").as("tag_region2x"),
          size(col("tags")).cast("long").as("n_tags"))
        .orderBy("n_nationkey")
    },

    // U8: CDC changelog compaction — the MERGE/latest-wins apply every
    // lakehouse table format (Delta CDF, Hudi, Debezium topic compaction)
    // performs before serving a snapshot: order each key's change records,
    // keep the newest, drop keys whose newest record is a tombstone. The
    // event stream is read as a changelog on per-user account state:
    // signup/purchase upsert the state value, error is a tombstone,
    // click/view are non-state events and never reach the compactor
    // (filter pushed to the scan). One exchange on the key; the ranking
    // window and the per-key op count share it; rk=1 + anti-tombstone
    // filter is the standard compaction shape — no global sort anywhere
    // but the gate's output ordering. At 100 TB this is exactly the
    // shuffle a MERGE INTO's matched-clause resolution pays, with
    // row_number (not max+self-join) keeping it single-pass.
    // U13: MERGE apply — the lakehouse write primitive (Delta/Iceberg
    // MERGE INTO) as one full-outer join: a deterministic changelog
    // (inserts on fresh keys, updates, deletes) applies against the
    // snapshot, matched-update / matched-delete / not-matched-insert
    // resolved per row with coalesce logic. Money moves in exact integer
    // cents, so the before/after balance audit is an equality, not a
    // tolerance; the key checksum pins WHICH rows survived. One shuffle
    // on the merge key — the same plan a storage-layer MERGE lowers to.
    "u13_merge_apply" -> { (s, d) =>
      val target = Tables.orders(s, d).select(
        col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val changes = Tables.orders(s, d).select(
        col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
        .withColumn("op",
          when(col("o_orderkey") % 7 === 0, "U")
            .when(col("o_orderkey") % 11 === 0, "D")
            .when(col("o_orderkey") % 13 === 0, "I"))
        .filter(col("op").isNotNull)
        .select(
          when(col("op") === "I", col("o_orderkey") + 2000000000L)
            .otherwise(col("o_orderkey")).as("k"),
          when(col("op") === "U", col("cents") + 100L)
            .otherwise(col("cents")).as("new_cents"),
          col("op"))
      val merged = target.join(changes, Seq("k"), "full_outer")
        .filter(coalesce(col("op"), lit("")) =!= "D")
        .select(col("k"), coalesce(col("new_cents"), col("cents")).as("cents"))
      val tStats = target.agg(count(lit(1)).as("n_target"),
        sum(col("cents")).as("cents_before"))
      val cStats = changes.groupBy().agg(
        sum(when(col("op") === "U", 1L).otherwise(0L)).as("n_updates"),
        sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_deletes"),
        sum(when(col("op") === "I", 1L).otherwise(0L)).as("n_inserts"))
      merged.agg(count(lit(1)).as("n_result"),
          sum(col("cents")).as("cents_after"),
          sum(col("k")).as("key_checksum"))
        .crossJoin(broadcast(tStats))
        .crossJoin(broadcast(cStats))
        .select("n_target", "n_updates", "n_deletes", "n_inserts",
          "n_result", "cents_before", "cents_after", "key_checksum")
    },

    "u8_changelog_compact" -> { (s, d) =>
      val byUserDesc = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      val perUser = Window.partitionBy("user_id")
      Tables.events(s, d)
        .filter(col("event_type").isin("signup", "purchase", "error"))
        .withColumn("op",
          when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
        .withColumn("rk", row_number().over(byUserDesc))
        .withColumn("n_ops", count(lit(1)).over(perUser))
        .filter(col("rk") === 1 && col("op") === "U")
        .select(col("user_id"), col("event_type").as("last_op"),
          col("value").as("last_value"), col("n_ops"))
        .orderBy("user_id")
    },

    // U9: time-travel read — u8's compaction evaluated AS OF a past
    // cutoff, the snapshot-reconstruction query behind every lakehouse
    // `VERSION AS OF` / `TIMESTAMP AS OF`: filter the changelog to
    // records at-or-before T, then latest-wins per key. The cutoff is
    // the integer midpoint of the stream's [min, max] event time
    // (computed once, attached as a 1-row broadcast, so the same query
    // text serves any dataset). The cutoff filter lands BEFORE the
    // ranking window — at scale that's the difference between shuffling
    // the full history and shuffling half of it.
    "u9_time_travel" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("signup", "purchase", "error"))
        .withColumn("t_us", expr("unix_micros(ts)"))
      // integer div, not '/': Spark's double-divide + cast truncates while
      // DuckDB's rounds — 'div'/'//' floor identically on positive operands
      val cut = ev.agg(
        expr("min(t_us) + (max(t_us) - min(t_us)) div 2").as("cut_us"))
      val byUserDesc = Window.partitionBy("user_id")
        .orderBy(col("t_us").desc, col("event_id").desc)
      ev.crossJoin(broadcast(cut))
        .filter(col("t_us") <= col("cut_us"))
        .withColumn("op",
          when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
        .withColumn("rk", row_number().over(byUserDesc))
        .withColumn("n_ops_asof",
          count(lit(1)).over(Window.partitionBy("user_id")))
        .filter(col("rk") === 1 && col("op") === "U")
        .select(col("user_id"), col("event_type").as("last_op"),
          col("value").as("last_value"), col("n_ops_asof"), col("cut_us"))
        .orderBy("user_id")
    },

    // U11: incremental JOIN-view maintenance — the delta-algebra identity
    // V(A∪ΔA ⋈ B∪ΔB) = A⋈B + ΔA⋈B + A⋈ΔB + ΔA⋈ΔB that lets a
    // materialized join view refresh by joining only CHANGED rows
    // (DBSP/Materialize's core rule). A/ΔA split orders at a date cutoff
    // (late-arriving facts); B/ΔB splits customers on a key residue
    // (late-arriving dim rows). Emits each term's rollup plus the full
    // recompute; ReshapeScaleSpec asserts base + the three delta terms
    // equals the recompute exactly. At scale the three delta joins touch
    // |Δ|-proportional data — the small sides broadcast — while the naive
    // path re-joins everything.
    "u11_join_view_delta" -> { (s, d) =>
      val o = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderdate"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val c = Tables.customer(s, d).select(col("c_custkey"))
      val oldO = o.filter(expr("to_date(o_orderdate) < DATE'1997-01-01'"))
      val newO = o.filter(expr("to_date(o_orderdate) >= DATE'1997-01-01'"))
      val oldC = c.filter(pmod(col("c_custkey"), lit(10)) =!= 3)
      val newC = c.filter(pmod(col("c_custkey"), lit(10)) === 3)
      def term(name: String, os: DataFrame, cs: DataFrame): DataFrame =
        os.join(cs, col("o_custkey") === col("c_custkey"))
          .agg(count(lit(1)).as("n_pairs"), sum(col("cents")).as("rev_cents"))
          .select(lit(name).as("term"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
            coalesce(col("rev_cents"), lit(0L)).as("rev_cents"))
      term("1_base", oldO, oldC)
        .unionAll(term("2_delta_fact", newO, oldC))
        .unionAll(term("3_delta_dim", oldO, broadcast(newC)))
        .unionAll(term("4_delta_both", newO, broadcast(newC)))
        .unionAll(term("5_full_recompute", o, c))
        .orderBy("term")
    },

    // U12: SCD Type-2 dimension BUILD from a changelog — the write-side
    // twin of j16's SCD2 range-join read: each attribute-change record
    // becomes a version row with [effective_from, effective_to) stamped by
    // ONE LEAD over the per-key change order, the open version flagged
    // current. The whole build is a single partitioned window pass —
    // exactly how a dim table refreshes from CDC at scale. Gate emits a
    // deterministic key sample (user_id ≡ 0 mod 7) to keep the output
    // bounded; the construction itself runs corpus-wide.
    "u12_scd2_build" -> { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
      Tables.events(s, d)
        .filter(col("event_type").isin("signup", "purchase"))
        .withColumn("t_us", expr("unix_micros(ts)"))
        .withColumn("version", row_number().over(w))
        .withColumn("to_us", lead(col("t_us"), 1).over(w))
        .withColumn("is_current", col("to_us").isNull)
        .filter(pmod(col("user_id"), lit(7)) === 0)
        .select(col("user_id"), col("version").cast("long").as("version"),
          col("event_type").as("attr_value"),
          col("value").as("metric_value"),
          col("t_us").as("from_us"),
          coalesce(col("to_us"), lit(Long.MaxValue)).as("to_us"),
          col("is_current"))
        .orderBy("user_id", "version")
    })

  val oracles: Map[String, String] = Map(
    "u13_merge_apply" ->
      """WITH target AS (
           SELECT o_orderkey AS k,
                  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         ch0 AS (
           SELECT o_orderkey,
                  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
                  CASE WHEN o_orderkey % 7 = 0 THEN 'U'
                       WHEN o_orderkey % 11 = 0 THEN 'D'
                       WHEN o_orderkey % 13 = 0 THEN 'I' END AS op
           FROM orders),
         changes AS (
           SELECT CASE WHEN op = 'I' THEN o_orderkey + 2000000000 ELSE o_orderkey END AS k,
                  CASE WHEN op = 'U' THEN cents + 100 ELSE cents END AS new_cents,
                  op
           FROM ch0 WHERE op IS NOT NULL),
         merged AS (
           SELECT COALESCE(t.k, c.k) AS k,
                  COALESCE(c.new_cents, t.cents) AS cents
           FROM target t FULL OUTER JOIN changes c ON t.k = c.k
           WHERE COALESCE(c.op, '') <> 'D'),
         ts AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_target,
                       CAST(SUM(cents) AS BIGINT) AS cents_before FROM target),
         cs AS (SELECT CAST(SUM(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_updates,
                       CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
                       CAST(SUM(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserts
                FROM changes),
         ms AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_result,
                       CAST(SUM(cents) AS BIGINT) AS cents_after,
                       CAST(SUM(k) AS BIGINT) AS key_checksum FROM merged)
         SELECT ts.n_target, cs.n_updates, cs.n_deletes, cs.n_inserts,
                ms.n_result, ts.cents_before, ms.cents_after, ms.key_checksum
         FROM ts CROSS JOIN cs CROSS JOIN ms""",

    "u4_unpivot" ->
      """WITH wide AS (
           SELECT o_orderpriority,
                  CAST(COUNT(*) AS DOUBLE) AS n_orders,
                  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,8))), 4) AS DOUBLE) AS total_value,
                  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,8))), 4) AS DOUBLE) / COUNT(o_totalprice) AS avg_value
           FROM orders GROUP BY 1)
         SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS "value" FROM wide
         UNION ALL
         SELECT o_orderpriority, 'total_value', total_value FROM wide
         UNION ALL
         SELECT o_orderpriority, 'avg_value', avg_value FROM wide
         ORDER BY o_orderpriority, metric""",

    "f13_argmax" ->
      """WITH counts AS (
           SELECT source, lang, COUNT(*) AS n,
                  printf('%010d|%s', COUNT(*), lang) AS ord
           FROM documents GROUP BY 1, 2)
         SELECT source,
                arg_max(lang, ord) AS dominant_lang,
                MAX(n) AS dominant_n,
                arg_min(lang, ord) AS rarest_lang,
                CAST(SUM(n) AS BIGINT) AS total_docs,
                CAST(MAX(n) AS DOUBLE) / SUM(n) AS dominant_share
         FROM counts GROUP BY 1 ORDER BY 1""",

    // DuckDB 1.0 map extraction yields a LIST; [1] takes the value.
    "f12_struct_map" ->
      """SELECT n_nationkey,
                struct_pack(name := n_name, region := n_regionkey).name AS info_name,
                struct_pack(name := n_name, region := n_regionkey).region AS info_region,
                MAP(['key', 'region2x'], [n_nationkey, n_regionkey * 2])['key'][1] AS tag_key,
                MAP(['key', 'region2x'], [n_nationkey, n_regionkey * 2])['region2x'][1] AS tag_region2x,
                CAST(cardinality(MAP(['key', 'region2x'], [n_nationkey, n_regionkey * 2])) AS BIGINT) AS n_tags
         FROM nation ORDER BY n_nationkey""",

    // Same window shape; tombstoned keys vanish via the rk=1 + op filter.
    "u8_changelog_compact" ->
      """WITH ops AS (
           SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, "value",
                  CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
           FROM events
           WHERE event_type IN ('signup', 'purchase', 'error')),
         r AS (
           SELECT *,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rk,
                  COUNT(*) OVER (PARTITION BY user_id) AS n_ops
           FROM ops)
         SELECT user_id, event_type AS last_op, "value" AS last_value,
                CAST(n_ops AS BIGINT) AS n_ops
         FROM r WHERE rk = 1 AND op = 'U'
         ORDER BY user_id""",

    "u9_time_travel" ->
      """WITH ev AS (
           SELECT event_id, user_id, event_type, "value",
                  epoch_us(CAST(ts AS TIMESTAMP)) AS t_us
           FROM events
           WHERE event_type IN ('signup', 'purchase', 'error')),
         cut AS (SELECT MIN(t_us) + (MAX(t_us) - MIN(t_us)) // 2 AS cut_us FROM ev),
         snap AS (
           SELECT ev.*, cut.cut_us,
                  CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
           FROM ev CROSS JOIN cut WHERE ev.t_us <= cut.cut_us),
         r AS (
           SELECT *,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY t_us DESC, event_id DESC) AS rk,
                  COUNT(*) OVER (PARTITION BY user_id) AS n_ops_asof
           FROM snap)
         SELECT user_id, event_type AS last_op, "value" AS last_value,
                CAST(n_ops_asof AS BIGINT) AS n_ops_asof, cut_us
         FROM r WHERE rk = 1 AND op = 'U'
         ORDER BY user_id""",

    "u11_join_view_delta" ->
      """WITH o AS (
           SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
                  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         oldo AS (SELECT * FROM o WHERE od < DATE '1997-01-01'),
         newo AS (SELECT * FROM o WHERE od >= DATE '1997-01-01'),
         oldc AS (SELECT c_custkey FROM customer WHERE c_custkey % 10 <> 3),
         newc AS (SELECT c_custkey FROM customer WHERE c_custkey % 10 = 3),
         t AS (
           SELECT '1_base' AS term,
                  COALESCE(COUNT(*), 0) AS n_pairs,
                  COALESCE(SUM(cents), 0) AS rev_cents
           FROM oldo JOIN oldc ON o_custkey = c_custkey
           UNION ALL
           SELECT '2_delta_fact', COALESCE(COUNT(*), 0), COALESCE(SUM(cents), 0)
           FROM newo JOIN oldc ON o_custkey = c_custkey
           UNION ALL
           SELECT '3_delta_dim', COALESCE(COUNT(*), 0), COALESCE(SUM(cents), 0)
           FROM oldo JOIN newc ON o_custkey = c_custkey
           UNION ALL
           SELECT '4_delta_both', COALESCE(COUNT(*), 0), COALESCE(SUM(cents), 0)
           FROM newo JOIN newc ON o_custkey = c_custkey
           UNION ALL
           SELECT '5_full_recompute', COALESCE(COUNT(*), 0), COALESCE(SUM(cents), 0)
           FROM o JOIN customer ON o_custkey = c_custkey)
         SELECT term, CAST(n_pairs AS BIGINT) AS n_pairs,
                CAST(rev_cents AS BIGINT) AS rev_cents
         FROM t ORDER BY term""",

    "u12_scd2_build" ->
      """WITH ev AS (
           SELECT user_id, event_id, event_type, "value",
                  epoch_us(CAST(ts AS TIMESTAMP)) AS t_us
           FROM events
           WHERE event_type IN ('signup', 'purchase')),
         v AS (
           SELECT user_id,
                  CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY t_us, event_id) AS BIGINT) AS version,
                  event_type AS attr_value, "value" AS metric_value,
                  t_us AS from_us,
                  LEAD(t_us) OVER (PARTITION BY user_id
                    ORDER BY t_us, event_id) AS to_us
           FROM ev)
         SELECT user_id, version, attr_value, metric_value, from_us,
                COALESCE(to_us, 9223372036854775807) AS to_us,
                to_us IS NULL AS is_current
         FROM v WHERE user_id % 7 = 0
         ORDER BY user_id, version""")
}
