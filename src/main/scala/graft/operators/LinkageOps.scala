package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftExtensions, Tables}
import graft.functions.Exact._

/** Record-linkage and resampling operators — probabilistic entity
  * resolution (the Fellegi-Sunter agree/disagree log-weight model over
  * blocked candidate pairs, with the codegen'd [[JaroWinklerSimilarity]]
  * as the fuzzy field comparator) and a deterministic online-bootstrap
  * confidence interval (hash-derived Binomial(2, 1/2) replicate weights —
  * the resampling scheme that needs no second pass and no RNG state, so it
  * is reproducible run-to-run AND cross-engine).
  *
  * At scale: candidate pairs come from equi-join blocking (never all
  * pairs); every aggregate is a mergeable hash-agg; the bootstrap explodes
  * each row into B=32 weighted copies (constant factor, map-side combined
  * away before the exchange).
  *
  * Reference scope: beyond-reference (builder brief's dedup/curation
  * direction); sited with dd22 (SNM blocking) and qc_welch_ttest
  * (cohort statistics).
  */
object LinkageOps extends graft.QueryFamily {
  private val B = 32 // bootstrap replicates

  /** Blocked candidate pairs over documents: equi-join on
    * (lang, n_chars div 50) with id-ordering — dd22's blocking shape. */
  private def blockedPairs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(
        col("doc_id"), col("lang"), col("source"), col("n_chars"),
        substring(lower(col("text")), 1, 16).as("p"),
        floor(col("n_chars") / lit(50.0)).cast("long").as("blk"))
    docs.as("a").join(docs.as("b"),
        col("a.lang") === col("b.lang") && col("a.blk") === col("b.blk") &&
          col("a.doc_id") < col("b.doc_id"))
  }

  val queries: Map[String, Q] = Map(
    // F26: Jaro-Winkler similarity census over blocked pairs — exercises
    // the custom codegen'd expression at data scale (prefix-16 comparator,
    // the ER blocking field). Bucketed at 0.1 with the 1e-9 bias so the
    // final double chain can't flip a boundary cross-engine.
    "f26_jaro_winkler" -> { (s, d) =>
      GraftExtensions.register(s)
      blockedPairs(s, d)
        .select(col("a.lang").as("lang"),
          expr("jaro_winkler(a.p, b.p)").as("jw"))
        .groupBy(col("lang"),
          floor((col("jw") + lit(1e-9)) * 10).cast("long").as("sim_bucket"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("lang", "sim_bucket")
    },

    // DD23: Fellegi-Sunter match scoring — each field comparison
    // contributes its agreement/disagreement log-weight (integers, so the
    // score is exact): same source +24/−8, length within 10 chars +16/−4,
    // prefix Jaro-Winkler ≥ 0.9 +30/−10. The score distribution per
    // language is the calibration table an ER pipeline thresholds on.
    "dd23_er_score" -> { (s, d) =>
      GraftExtensions.register(s)
      blockedPairs(s, d)
        .select(
          col("a.lang").as("lang"),
          (when(col("a.source") === col("b.source"), 24L).otherwise(-8L) +
            when(abs(col("a.n_chars") - col("b.n_chars")) <= 10, 16L).otherwise(-4L) +
            when(expr("jaro_winkler(a.p, b.p)") + lit(1e-9) >= 0.9, 30L).otherwise(-10L))
            .as("score"))
        .groupBy("lang", "score")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("lang", "score")
    },

    // SA12: deterministic online bootstrap. Replicate weight w(i,b) =
    // popcount of 2 md5 bits ~ Binomial(2, 1/2) (mean 1 — Oza-Russell's
    // online approximation of the Poisson(1) bootstrap), derived from
    // md5(orderkey|b) so both engines draw identical "resamples" with no
    // RNG. Per priority: point mean of order totals, plus the 2nd and 31st
    // of the 32 sorted replicate means as the ~94% interval.
    "sa12_bootstrap_ci" -> { (s, d) =>
      val o = Tables.orders(s, d)
        .select(col("o_orderpriority").as("prio"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val point = o.groupBy("prio")
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
      // r14 (guide §2.6): |orders|×32 md5 draws ran inside the scan's single
      // task (2.9 s serial at sf0.1) — fan the 3-column proxy rows out
      // BEFORE the explode; no-op at real scale (Tables.spreadIfNarrow).
      val reps = graft.Tables.spreadIfNarrow(o)
        .select(col("prio"), col("o_orderkey"), col("cents"),
          explode(expr(s"sequence(0, ${B - 1})")).as("b"))
        .withColumn("v",
          expr("instr('0123456789abcdef', substring(md5(concat(cast(o_orderkey AS string), '|', cast(b AS string))), 1, 1)) - 1"))
        .withColumn("w", (col("v") % 2 + (col("v") / 2).cast("long") % 2).cast("long"))
        .groupBy("prio", "b")
        .agg(sum(col("w")).as("n_eff"), sum(col("w") * col("cents")).as("wsum"))
        .select(col("prio"),
          (col("wsum").cast("double") / col("n_eff")).as("rep_mean"))
        .groupBy("prio")
        .agg(sort_array(collect_list(col("rep_mean"))).as("means"))
      point.join(reps, "prio")
        .select(
          col("prio"), col("n_orders"),
          stableRound(col("sum_cents").cast("double") / col("n_orders") / 100.0, 4)
            .as("point_mean"),
          stableRound(element_at(col("means"), 2) / 100.0, 4).as("boot_lo"),
          stableRound(element_at(col("means"), B - 1) / 100.0, 4).as("boot_hi"))
        .orderBy("prio")
    })

  private val duckPairs =
    """d AS (SELECT doc_id, lang, source, n_chars,
              substr(lower(text), 1, 16) AS p,
              CAST(FLOOR(n_chars / 50.0) AS BIGINT) AS blk
            FROM documents),
       pr AS (
         SELECT a.lang AS lang, a.source AS src_a, b.source AS src_b,
                a.n_chars AS nc_a, b.n_chars AS nc_b,
                jaro_winkler_similarity(a.p, b.p) AS jw
         FROM d a JOIN d b
           ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id)"""

  val oracles: Map[String, String] = Map(
    "f26_jaro_winkler" ->
      s"""WITH $duckPairs
          SELECT lang,
                 CAST(FLOOR((jw + 1e-9) * 10) AS BIGINT) AS sim_bucket,
                 CAST(COUNT(*) AS BIGINT) AS n_pairs
          FROM pr GROUP BY 1, 2 ORDER BY 1, 2""",

    "dd23_er_score" ->
      s"""WITH $duckPairs
          SELECT lang,
                 CAST(CASE WHEN src_a = src_b THEN 24 ELSE -8 END +
                      CASE WHEN ABS(nc_a - nc_b) <= 10 THEN 16 ELSE -4 END +
                      CASE WHEN jw + 1e-9 >= 0.9 THEN 30 ELSE -10 END AS BIGINT) AS score,
                 CAST(COUNT(*) AS BIGINT) AS n_pairs
          FROM pr GROUP BY 1, 2 ORDER BY 1, 2""",

    "sa12_bootstrap_ci" ->
      s"""WITH o AS (
            SELECT o_orderpriority AS prio, o_orderkey,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders),
          point AS (
            SELECT prio, CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(cents) AS BIGINT) AS sum_cents
            FROM o GROUP BY 1),
          e AS (
            SELECT prio, o_orderkey, cents, b,
                   instr('0123456789abcdef',
                     substr(md5(CAST(o_orderkey AS VARCHAR) || '|' || CAST(b AS VARCHAR)), 1, 1)) - 1 AS v
            FROM o CROSS JOIN range(0, $B) t(b)),
          w AS (SELECT prio, b, (v % 2 + (v // 2) % 2) AS w, cents FROM e),
          rep AS (
            SELECT prio, b,
                   CAST(SUM(w * cents) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS rep_mean
            FROM w GROUP BY 1, 2),
          lst AS (SELECT prio, list_sort(list(rep_mean)) AS means FROM rep GROUP BY 1)
          SELECT p.prio, p.n_orders,
                 ROUND(1e-9 + CAST(p.sum_cents AS DOUBLE) / p.n_orders / 100.0, 4) + 0.0 AS point_mean,
                 ROUND(1e-9 + l.means[2] / 100.0, 4) + 0.0 AS boot_lo,
                 ROUND(1e-9 + l.means[${B - 1}] / 100.0, 4) + 0.0 AS boot_hi
          FROM point p JOIN lst l ON p.prio = l.prio
          ORDER BY p.prio""")
}
