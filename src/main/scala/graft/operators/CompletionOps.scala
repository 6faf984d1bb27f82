package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-2 completion batch: the relational odds and ends a migrating
  * warehouse workload still expects — FULL OUTER join, FILTER-clause
  * aggregates, the null-semantics function family (nullif / ifnull /
  * nvl2 / null-safe equality), and correlated LATERAL derived tables.
  */
object CompletionOps extends graft.QueryFamily {
  val queries: Map[String, Q] = Map(
    // U5: PRIORITY UNION — merging corpus snapshots where the newer drop
    // wins on key collision (the "latest snapshot wins" reconciliation
    // every periodically-recrawled corpus needs). The canonical incremental
    // form: newer drop ∪ (older ANTI-JOIN newer) — one anti join, no
    // full-row comparison, no window. v2 is a deterministic revision of
    // every third document; the gate proves exactly those keys carry v2
    // content and the rest carry v1.
    "u5_priority_union" -> { (s, d) =>
      val v1 = Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("content_md5"),
          lit(1L).as("version"))
      val v2 = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id"), md5(concat(col("text"), lit(" v2"))).as("content_md5"),
          lit(2L).as("version"))
      val merged = v2.unionByName(
        v1.join(v2.select("doc_id"), Seq("doc_id"), "left_anti"))
      merged.groupBy("version")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("doc_id_checksum"),
          md5(array_join(expr(
            "array_sort(collect_list(content_md5))"), "")).as("content_checksum"))
        .orderBy("version")
    },

    // J13: FULL OUTER join of two aggregates with key coalescing — the
    // supplier side is filtered so both unmatched directions occur.
    "j13_full_outer" -> { (s, d) =>
      val su = Tables.supplier(s, d).filter(col("s_suppkey") < 40)
        .groupBy(col("s_nationkey").cast("long").as("nk_s"))
        .agg(count(lit(1)).as("n_supp"))
      val cu = Tables.customer(s, d)
        .groupBy(col("c_nationkey").cast("long").as("nk_c"))
        .agg(count(lit(1)).as("n_cust"))
      su.join(cu, col("nk_s") === col("nk_c"), "full_outer")
        .select(
          coalesce(col("nk_s"), col("nk_c")).as("nationkey"),
          col("n_supp"), col("n_cust"))
        .orderBy("nationkey")
    },

    // A19: FILTER-clause aggregates (the declarative twin of the
    // reference's SUM(CASE WHEN ...) conditional aggregation, A4/A5).
    "a19_filter_agg" -> { (s, d) =>
      Tables.lineitem(s, d).createOrReplaceTempView("a19_lineitem")
      s.sql(
        """SELECT l_returnflag,
          |       COUNT(*) AS n_all,
          |       COUNT(*) FILTER (WHERE l_quantity > 25) AS n_heavy,
          |       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,8)))
          |                  FILTER (WHERE l_discount >= 0.05), 4) AS DOUBLE) AS disc_revenue,
          |       CAST(COUNT(DISTINCT l_suppkey) FILTER (WHERE l_quantity > 40) AS BIGINT) AS heavy_supps
          |FROM a19_lineitem
          |GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
    },

    // F11: null-semantics battery — nullif / ifnull / coalesce chain /
    // nvl2 / null-safe equality, all per-row and bit-exact.
    "f11_null_semantics" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 200)
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          expr("nullif(l_quantity, 25.0)").as("qty_or_null"),
          expr("ifnull(nullif(l_quantity, 25.0), -1.0)").as("qty_defaulted"),
          coalesce(expr("nullif(l_quantity, 25.0)"), col("l_discount"), lit(0.0))
            .as("first_present"),
          (expr("nullif(l_quantity, 25.0)") <=> lit(30.0)).cast("long").as("safe_eq_30"),
          expr("nvl2(nullif(l_quantity, 25.0), 'present', 'was_25')").as("presence_tag"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    },

    // A20: custom typed aggregate — Misra-Gries heavy hitters with real
    // partial/final merge. Capacity 8 > the 5 distinct langs per source, so
    // no counter is ever trimmed and the summary is EXACT (the oracle is a
    // plain GROUP BY); MisraGriesSpec covers the approximate regime.
    "a20_heavy_hitters" -> { (s, d) =>
      val mg = udaf(graft.functions.MisraGries(8),
        org.apache.spark.sql.Encoders.STRING)
      Tables.documents(s, d)
        .groupBy("source")
        .agg(mg(col("lang")).as("hh"))
        .select(col("source"), explode(col("hh")))
        .select(col("source"), col("key").as("lang"), col("value").as("cnt"))
        .orderBy("source", "lang")
    },

    // Q6: correlated LATERAL derived table — per nation, the top supplier
    // by account balance computed in a correlated inline view (Catalyst
    // decorrelates it; DuckDB executes it natively).
    "q6_lateral" -> { (s, d) =>
      Tables.nation(s, d).createOrReplaceTempView("q6_nation")
      Tables.supplier(s, d).createOrReplaceTempView("q6_supplier")
      s.sql(
        """SELECT n.n_name, l.s_name, ROUND(l.s_acctbal, 4) AS top_acctbal
          |FROM q6_nation n,
          |     LATERAL (SELECT s_name, s_acctbal FROM q6_supplier s
          |              WHERE s.s_nationkey = n.n_nationkey
          |              ORDER BY s_acctbal DESC, s_name LIMIT 1) l
          |ORDER BY n.n_name""".stripMargin)
    })

  val oracles: Map[String, String] = Map(
    // replay: doc_id % 3 = 0 carries v2 content, everything else v1.
    "u5_priority_union" ->
      """WITH merged AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 3 = 0 THEN md5(text || ' v2') ELSE md5(text) END AS content_md5,
                  CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS version
           FROM documents)
         SELECT CAST(version AS BIGINT) AS version,
                COUNT(*) AS n_docs,
                CAST(SUM(doc_id) AS BIGINT) AS doc_id_checksum,
                md5(string_agg(content_md5, '' ORDER BY content_md5)) AS content_checksum
         FROM merged GROUP BY 1 ORDER BY 1""",

    "j13_full_outer" ->
      """WITH su AS (SELECT CAST(s_nationkey AS BIGINT) AS nk_s, COUNT(*) AS n_supp
                     FROM supplier WHERE s_suppkey < 40 GROUP BY 1),
            cu AS (SELECT CAST(c_nationkey AS BIGINT) AS nk_c, COUNT(*) AS n_cust
                   FROM customer GROUP BY 1)
         SELECT COALESCE(nk_s, nk_c) AS nationkey, n_supp, n_cust
         FROM su FULL OUTER JOIN cu ON nk_s = nk_c
         ORDER BY nationkey""",

    "a19_filter_agg" ->
      """SELECT l_returnflag,
                COUNT(*) AS n_all,
                COUNT(*) FILTER (WHERE l_quantity > 25) AS n_heavy,
                CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,8)))
                           FILTER (WHERE l_discount >= 0.05), 4) AS DOUBLE) AS disc_revenue,
                CAST(COUNT(DISTINCT l_suppkey) FILTER (WHERE l_quantity > 40) AS BIGINT) AS heavy_supps
         FROM lineitem
         GROUP BY l_returnflag
         ORDER BY l_returnflag""",

    "f11_null_semantics" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                nullif(l_quantity, 25.0) AS qty_or_null,
                ifnull(nullif(l_quantity, 25.0), -1.0) AS qty_defaulted,
                coalesce(nullif(l_quantity, 25.0), l_discount, 0.0) AS first_present,
                CAST(nullif(l_quantity, 25.0) IS NOT DISTINCT FROM 30.0 AS BIGINT) AS safe_eq_30,
                CASE WHEN nullif(l_quantity, 25.0) IS NOT NULL
                     THEN 'present' ELSE 'was_25' END AS presence_tag
         FROM lineitem
         WHERE l_orderkey < 200
         ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""",

    "a20_heavy_hitters" ->
      """SELECT source, lang, COUNT(*) AS cnt
         FROM documents GROUP BY 1, 2 ORDER BY 1, 2""",

    "q6_lateral" ->
      """SELECT n.n_name, l.s_name, ROUND(l.s_acctbal, 4) AS top_acctbal
         FROM nation n,
              LATERAL (SELECT s_name, s_acctbal FROM supplier s
                       WHERE s.s_nationkey = n.n_nationkey
                       ORDER BY s_acctbal DESC, s_name LIMIT 1) l
         ORDER BY n.n_name""")
}
