package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Index-structure and sequence-mining operators:
  *
  *  - tx21: inverted-index build (token → document-frequency + postings
  *    list) — the search-index artifact every retrieval corpus ships with.
  *    Postings are verified by digest (md5 of the comma-joined sorted doc
  *    ids) so the gate checks list CONTENT without serializing megabyte
  *    arrays through the compare.
  *  - s18: zone-map pruning audit — build per-"file" (month-partition)
  *    min/max statistics for a column and report how many files a probe
  *    predicate can skip without reading: the data-skipping design check
  *    behind every parquet row-group / Delta file-stats prune.
  *  - f23: event-sequence trigram mining — consecutive event-type
  *    3-grams per user in time order (behavioral motifs), two LEADs over
  *    the user-partitioned order instead of two self-joins.
  *
  * All three are one-exchange shapes: explode→groupBy (tx21), two-level
  * agg (s18), partitioned window + groupBy (f23).
  *
  * Reference scope: the reference has no index/sequence operators —
  * beyond-reference pack per the builder brief.
  */
object IndexOps extends graft.QueryFamily {
  /** s18 probe predicate: o_custkey ∈ [PROBE_LO, PROBE_HI]. */
  private val PROBE_LO = 100L
  private val PROBE_HI = 200L

  val queries: Map[String, Q] = Map(
    "tx21_inverted_index" -> { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      val tf = toks.groupBy("token").agg(count(lit(1)).as("tf"))
      val postings = toks.distinct()
        .groupBy("token")
        .agg(count(lit(1)).as("df"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"),
          md5(concat_ws(",",
            sort_array(collect_set(col("doc_id"))))).as("postings_md5"))
      postings.join(tf, "token")
        .select("token", "df", "tf", "first_doc", "last_doc", "postings_md5")
        .orderBy("token")
    },

    "s18_zonemap_prune" -> { (s, d) =>
      val files = Tables.orders(s, d)
        .withColumn("file_id",
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).cast("long"))
        .groupBy("file_id")
        .agg(min(col("o_custkey")).as("zmin"),
          max(col("o_custkey")).as("zmax"),
          count(lit(1)).as("rows_in_file"),
          sum(when(col("o_custkey").between(PROBE_LO, PROBE_HI), 1L)
            .otherwise(0L)).as("rows_matched"))
      files.agg(
        count(lit(1)).as("n_files"),
        sum(when(col("zmin") <= PROBE_HI && col("zmax") >= PROBE_LO, 1L)
          .otherwise(0L)).as("n_scanned"),
        sum(when(col("zmin") > PROBE_HI || col("zmax") < PROBE_LO, 1L)
          .otherwise(0L)).as("n_skipped"),
        sum(when(col("zmin") <= PROBE_HI && col("zmax") >= PROBE_LO,
          col("rows_in_file")).otherwise(0L)).as("rows_scanned"),
        sum(col("rows_matched")).as("rows_matched"))
    },

    // J20: the TPC-H Q5 shape — a six-way snowflake join (fact ⋈ two key
    // paths that must AGREE on nation) with a region filter and a date
    // range. The scale story: region/nation/supplier/customer broadcast
    // (each orders of magnitude under the fact), lineitem⋈orders is the
    // only shuffle pair, the c_nationkey = s_nationkey condition rides the
    // already-joined rows (no extra exchange), and revenue accumulates
    // through the Exact decimal path. The filters sit on the dimension
    // scans so Catalyst prunes before any join.
    // J21: bilateral trade-flow analysis (TPC-H Q7 shape) — revenue
    // shipped between two specific nations, split by (supplier nation,
    // customer nation, ship year): the classic "volume shipping" snowflake
    // with a DISJUNCTIVE nation-pair predicate. Plan shape mirrors j20:
    // the big fact joins stream while every dimension arm (orders →
    // customer → nation; supplier → nation) reduces then broadcasts; the
    // pair predicate lands AFTER both nation attaches, on broadcast-sized
    // rows. Exact decimal revenue (dsum), years from the shipdate — the
    // per-flow-per-year drill a pricing team reads.
    "j21_trade_flows" -> { (s, d) =>
      val nations = Tables.nation(s, d)
        .filter(col("n_name").isin("NATION_0", "NATION_1"))
        .select("n_nationkey", "n_name")
      val supp = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
        .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
        .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val orders = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1998-01-01")
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).cast("long").as("l_year"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(graft.functions.Exact.dsum(col("rev")).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },

    "j20_regional_revenue" -> { (s, d) =>
      val region = Tables.region(s, d).filter(col("r_name") === "ASIA")
      val nation = Tables.nation(s, d)
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
      val supp = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      val orders = Tables.orders(s, d)
        .filter(col("o_orderdate") >= "1996-01-01" &&
          col("o_orderdate") < "1998-01-01")
        .select("o_orderkey", "o_custkey")
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(graft.functions.Exact.dsum(col("rev")).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // SA11: k-fold cross-validation assignment — the CV twin of sa3's
    // train/val/test split: fold = salted md5 bucket mod K (append-safe,
    // engine-reproducible membership), plus the balance audit (per-fold
    // count and deviation from n/K) that tells you whether the hash is
    // treating folds fairly. Membership is checksummed (sum of doc_ids)
    // so the gate verifies WHICH rows landed where, not just how many.
    "sa11_kfold" -> { (s, d) =>
      val K = 5
      Tables.documents(s, d)
        .withColumn("fold", expr(
          "CAST(conv(substring(md5(concat('graft-kfold', CAST(doc_id AS STRING))), 1, 7), 16, 10) AS BIGINT)" +
            s" % $K"))
        .groupBy("fold")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_checksum"))
        .crossJoin(broadcast(
          Tables.documents(s, d).agg(count(lit(1)).as("n_total"))))
        .withColumn("expected", col("n_total").cast("double") / K)
        .select(col("fold"), col("n_docs"), col("id_checksum"),
          graft.functions.Exact.stableRound(
            (col("n_docs") - col("expected")) / col("expected"), 6)
            .as("balance_dev"))
        .orderBy("fold")
    },

    // QC-FILL: per-month fill-rate (non-null share) trend for a column set
    // — the production data-quality monitor (a sudden fill-rate drop in
    // one month flags an upstream schema/ingest break that a global
    // profile like s14 averages away). One unpivot + one (month, column)
    // hash-agg; integer counts, one double division per cell.
    "qc_fill_trend" -> { (s, d) =>
      val ym = (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("long").as("ym")
      Tables.orders(s, d)
        .select(ym,
          when(col("o_totalprice").isNotNull, 1L).otherwise(0L).as("o_totalprice"),
          when(col("o_orderpriority").isNotNull, 1L).otherwise(0L).as("o_orderpriority"),
          when(col("o_orderstatus").isNotNull, 1L).otherwise(0L).as("o_orderstatus"))
        .unpivot(Array(col("ym")), Array(col("o_totalprice"),
          col("o_orderpriority"), col("o_orderstatus")), "column", "filled")
        .groupBy("ym", "column")
        .agg(count(lit(1)).as("n_rows"), sum(col("filled")).as("n_filled"))
        .withColumn("fill_rate",
          graft.functions.Exact.stableRound(
            col("n_filled").cast("double") / col("n_rows"), 6))
        .orderBy("ym", "column")
    },

    "f23_event_trigrams" -> { (s, d) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("t2", lead(col("event_type"), 1).over(w))
        .withColumn("t3", lead(col("event_type"), 2).over(w))
        .filter(col("t2").isNotNull && col("t3").isNotNull)
        .groupBy(col("event_type").as("t1"), col("t2"), col("t3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
    })

  val oracles: Map[String, String] = Map(
    "tx21_inverted_index" ->
      """WITH toks AS (
           SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
           FROM documents),
         tf AS (SELECT token, COUNT(*) AS tf FROM toks GROUP BY 1),
         dedup AS (SELECT DISTINCT token, doc_id FROM toks),
         postings AS (
           SELECT token, COUNT(*) AS df,
                  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
                  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
                    AS postings_md5
           FROM dedup GROUP BY 1)
         SELECT p.token, p.df, t.tf, p.first_doc, p.last_doc, p.postings_md5
         FROM postings p JOIN tf t ON t.token = p.token
         ORDER BY p.token""",

    "s18_zonemap_prune" ->
      s"""WITH files AS (
            SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS file_id,
                   MIN(o_custkey) AS zmin, MAX(o_custkey) AS zmax,
                   COUNT(*) AS rows_in_file,
                   SUM(CASE WHEN o_custkey BETWEEN $PROBE_LO AND $PROBE_HI
                            THEN 1 ELSE 0 END) AS rows_matched
            FROM orders GROUP BY 1)
          SELECT COUNT(*) AS n_files,
                 CAST(SUM(CASE WHEN zmin <= $PROBE_HI AND zmax >= $PROBE_LO
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned,
                 CAST(SUM(CASE WHEN zmin > $PROBE_HI OR zmax < $PROBE_LO
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
                 CAST(SUM(CASE WHEN zmin <= $PROBE_HI AND zmax >= $PROBE_LO
                          THEN rows_in_file ELSE 0 END) AS BIGINT) AS rows_scanned,
                 CAST(SUM(rows_matched) AS BIGINT) AS rows_matched
          FROM files""",

    "j21_trade_flows" ->
      """SELECT sn.n_name AS supp_nation,
                cn.n_name AS cust_nation,
                CAST(YEAR(l.l_shipdate) AS BIGINT) AS l_year,
                CAST(ROUND(SUM(CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
                                    AS DECIMAL(30,8))), 4) AS DOUBLE) AS revenue,
                COUNT(*) AS n_items
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation cn ON c.c_nationkey = cn.n_nationkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation sn ON s.s_nationkey = sn.n_nationkey
         WHERE sn.n_name IN ('NATION_0', 'NATION_1')
           AND cn.n_name IN ('NATION_0', 'NATION_1')
           AND sn.n_name <> cn.n_name
           AND l.l_shipdate >= TIMESTAMP '1996-01-01'
           AND l.l_shipdate < TIMESTAMP '1998-01-01'
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",

    "j20_regional_revenue" ->
      """SELECT n.n_name,
                CAST(ROUND(SUM(CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
                                    AS DECIMAL(30,8))), 4) AS DOUBLE) AS revenue,
                COUNT(*) AS n_items
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
                        AND c.c_nationkey = s.s_nationkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         WHERE r.r_name = 'ASIA'
           AND o.o_orderdate >= TIMESTAMP '1996-01-01'
           AND o.o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY 1 ORDER BY revenue DESC, n_name""",

    "sa11_kfold" ->
      """WITH f AS (
           SELECT doc_id,
                  ('0x' || substring(md5(concat('graft-kfold', CAST(doc_id AS VARCHAR))), 1, 7))::BIGINT % 5 AS fold
           FROM documents),
         g AS (SELECT fold, COUNT(*) AS n_docs,
                      CAST(SUM(doc_id) AS BIGINT) AS id_checksum
               FROM f GROUP BY 1),
         t AS (SELECT COUNT(*) AS n_total FROM documents)
         SELECT fold, n_docs, id_checksum,
                ROUND(1e-9 + (n_docs - CAST(n_total AS DOUBLE) / 5)
                             / (CAST(n_total AS DOUBLE) / 5), 6) AS balance_dev
         FROM g CROSS JOIN t ORDER BY fold""",

    "qc_fill_trend" ->
      """WITH u AS (
           SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
                  'o_totalprice' AS "column",
                  CASE WHEN o_totalprice IS NOT NULL THEN 1 ELSE 0 END AS filled
           FROM orders
           UNION ALL
           SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT),
                  'o_orderpriority',
                  CASE WHEN o_orderpriority IS NOT NULL THEN 1 ELSE 0 END
           FROM orders
           UNION ALL
           SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT),
                  'o_orderstatus',
                  CASE WHEN o_orderstatus IS NOT NULL THEN 1 ELSE 0 END
           FROM orders),
         grp AS (
           SELECT ym, "column", COUNT(*) AS n_rows,
                  CAST(SUM(filled) AS BIGINT) AS n_filled
           FROM u GROUP BY 1, 2)
         SELECT ym, "column", n_rows, n_filled,
                ROUND(1e-9 + CAST(n_filled AS DOUBLE) / n_rows, 6) AS fill_rate
         FROM grp ORDER BY ym, "column"""",

    "f23_event_trigrams" ->
      """WITH seq AS (
           SELECT user_id, event_type AS t1,
                  LEAD(event_type, 1) OVER w AS t2,
                  LEAD(event_type, 2) OVER w AS t3
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT t1, t2, t3, COUNT(*) AS n
         FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL
         GROUP BY 1, 2, 3 ORDER BY n DESC, t1, t2, t3""")
}
