package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Exact._

/** Deterministic, hash-gateable streaming sketches.
  *
  * a13 gates rows-only because Spark's built-in HLL/approx-percentile
  * sketches are engine-specific. These two operators close that gap: the
  * sketch STATE itself is reproducible integer arithmetic (md5-derived
  * hashes, max/sum-merged registers), so the estimates are bit-identical
  * in Spark and DuckDB and the driver's value-hash gate applies to an
  * approximate-counting operator — the property that lets a 100 TB
  * pipeline check its sketch rollups against a reference, not just
  * eyeball them.
  *
  *  - a23: Count-Min sketch (Cormode & Muthukrishnan '05) — d×w integer
  *    cell grid, cell = SUM of hits (mergeable across any partitioning),
  *    point estimate = MIN over the d rows. Built as one groupBy over the
  *    exploded (row, cell) pairs; probed for a fixed key set against the
  *    exact counts so the output carries its own error audit.
  *  - a24: HyperLogLog with explicit registers (Flajolet et al. '07) —
  *    bucket = low p bits of the md5-64 hash, rho = leading-zero rank of
  *    the remaining bits via LENGTH(bin(w)) (both engines print minimal
  *    binary — no floating log2 anywhere), register = MAX(rho) (mergeable).
  *    The estimator's Σ 2^(-rho) is a sum of dyadic rationals (exact in
  *    IEEE doubles), so even the bias-corrected estimate hash-gates.
  *
  * At scale both are the textbook mergeable-state shape: per-partition
  * partial MAX/SUM, one exchange of constant-size state (256 registers /
  * d·w cells), driver never sees row data.
  */
object SketchOps extends graft.QueryFamily {
  /** Count-Min geometry: 4 rows × 64 columns. */
  private val CM_D = 4
  private val CM_W = 64
  /** HLL precision: p=8 → 256 registers; alpha_256 (Flajolet Fig. 3). */
  private val HLL_P = 8
  private val HLL_M = 1 << HLL_P
  private val ALPHA_256 = 0.7182725932495458

  /** 64-bit integer hash of a value, shared verbatim with the oracle:
    * first 15 hex chars of md5 (60 bits — stays positive in int64). */
  private def h60(c: String): String =
    s"CAST(conv(substring(md5(CAST($c AS STRING)), 1, 15), 16, 10) AS BIGINT)"

  val queries: Map[String, Q] = Map(
    // A23: CM sketch over lineitem supplier keys, probed for suppliers
    // 1..10. Each row of the sketch hashes with a different salt (the row
    // index prefixes the hashed string); estimate >= exact always, and
    // the collision inflation is visible per probe.
    "a23_countmin" -> { (s, d) =>
      val rows = (0 until CM_D).map(lit(_))
      // r14 optimization (guide §1.2 step 1: fix the algorithm before the
      // per-task work): hash DISTINCT keys, not rows. The r13 form exploded
      // every lineitem row ×CM_D and md5-hashed each copy — 4×|fact| md5s
      // (4.3–5.3 s profiled at sf0.1, one ~serial stage) for a sketch whose
      // cell ids depend only on (r, l_suppkey). Pre-aggregating by suppkey
      // first (a cheap codegen hash-agg) shrinks the hash input from the
      // corpus to the KEY DOMAIN, then the cell counts are the identical
      // sums: GROUP BY (r, c) of COUNT(*) ≡ GROUP BY (r, c) of SUM(per-key
      // counts). At 100 TB this turns the sketch build's md5 cost from
      // rows×D into keys×D.
      val bySupp = Tables.lineitem(s, d)
        .groupBy("l_suppkey").agg(count(lit(1)).as("n_key"))
      val cells = bySupp
        .select(col("l_suppkey"), col("n_key"), explode(array(rows: _*)).as("r"))
        .withColumn("c", expr(
          s"${h60("concat(r, '#', l_suppkey)")} % $CM_W"))
        .groupBy("r", "c").agg(sum(col("n_key")).as("cnt"))
      // probe keys 1..10: estimate = MIN over rows of the probed cell
      val probeDf = s.range(1, 11)
        .select(col("id").as("probe_key"))
        .withColumn("r", explode(array(rows: _*)))
        .withColumn("c", expr(
          s"${h60("concat(r, '#', probe_key)")} % $CM_W"))
      val est = probeDf.join(cells, Seq("r", "c"), "left")
        .groupBy("probe_key")
        .agg(min(coalesce(col("cnt"), lit(0L))).as("cm_estimate"))
      val exact = Tables.lineitem(s, d)
        .filter(col("l_suppkey").between(1, 10))
        .groupBy(col("l_suppkey").as("probe_key"))
        .agg(count(lit(1)).as("n_exact"))
      est.join(exact, Seq("probe_key"), "left")
        .select(col("probe_key"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          col("cm_estimate"),
          (col("cm_estimate") - coalesce(col("n_exact"), lit(0L))).as("overcount"))
        .orderBy("probe_key")
    },

    // A24: HLL distinct-count of lineitem order keys with a reproducible
    // register file. Registers merge by MAX — the same state a 1000-way
    // partial aggregation or a day-by-day rollup would merge.
    "a24_hll_registers" -> { (s, d) =>
      val reg = Tables.lineitem(s, d)
        .select(expr(h60("l_orderkey")).as("h"))
        .select((col("h") % HLL_M).as("bucket"),
          expr(s"h div $HLL_M").as("w"))
        .withColumn("rho",
          when(col("w") === 0, lit(61 - HLL_P))
            .otherwise(lit(61 - HLL_P) - length(expr("bin(w)"))))
        .groupBy("bucket").agg(max(col("rho")).as("r"))
      // Σ 2^(-r) over the present registers, integer-scaled: each term is
      // 2^(53-r)/2^53, the numerators sum EXACTLY in int64 (≤ 2^60), and
      // only the final single int→double conversion rounds — identically
      // in both engines. (A raw double Σ 2^-r is NOT safe: the terms span
      // more bits than one mantissa when any register runs deep, and then
      // Spark's merge order vs DuckDB's sequential fold diverge.)
      val summed = reg.agg(
        sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - r)")).as("zi"),
        count(lit(1)).as("m_present"))
      val exact = Tables.lineitem(s, d)
        .agg(countDistinct(col("l_orderkey")).as("n_exact"))
      summed.crossJoin(broadcast(exact))
        .withColumn("z",
          col("zi").cast("double") / lit(9007199254740992d) +
            (lit(HLL_M) - col("m_present")))
        .withColumn("hll_estimate",
          lit(ALPHA_256 * HLL_M * HLL_M) / col("z"))
        .select(col("n_exact"),
          col("m_present").as("registers_hit"),
          stableRound(col("hll_estimate"), 2).as("hll_estimate"),
          stableRound((col("hll_estimate") - col("n_exact")) / col("n_exact"), 6)
            .as("rel_error"))
    })

  private def duckH60(c: String): String =
    s"('0x' || substring(md5(CAST($c AS VARCHAR)), 1, 15))::BIGINT"

  val oracles: Map[String, String] = Map(
    "a23_countmin" ->
      s"""WITH cells AS (
            SELECT r, ${duckH60(s"concat(r, '#', l_suppkey)")} % $CM_W AS c,
                   COUNT(*) AS cnt
            FROM lineitem, UNNEST(generate_series(0, ${CM_D - 1})) AS g(r)
            GROUP BY 1, 2),
          probes AS (
            SELECT k AS probe_key, r,
                   ${duckH60(s"concat(r, '#', k)")} % $CM_W AS c
            FROM UNNEST(generate_series(1, 10)) AS gk(k),
                 UNNEST(generate_series(0, ${CM_D - 1})) AS gr(r)),
          est AS (
            SELECT probe_key, MIN(COALESCE(cnt, 0)) AS cm_estimate
            FROM probes LEFT JOIN cells USING (r, c)
            GROUP BY 1),
          exact AS (
            SELECT l_suppkey AS probe_key, COUNT(*) AS n_exact
            FROM lineitem WHERE l_suppkey BETWEEN 1 AND 10
            GROUP BY 1)
          SELECT e.probe_key,
                 CAST(COALESCE(x.n_exact, 0) AS BIGINT) AS n_exact,
                 CAST(e.cm_estimate AS BIGINT) AS cm_estimate,
                 CAST(e.cm_estimate - COALESCE(x.n_exact, 0) AS BIGINT) AS overcount
          FROM est e LEFT JOIN exact x ON x.probe_key = e.probe_key
          ORDER BY e.probe_key""",

    "a24_hll_registers" ->
      s"""WITH h AS (
            SELECT ${duckH60("l_orderkey")} AS h FROM lineitem),
          split AS (
            SELECT h % $HLL_M AS bucket, h // $HLL_M AS w FROM h),
          rho AS (
            SELECT bucket,
                   CASE WHEN w = 0 THEN ${61 - HLL_P}
                        ELSE ${61 - HLL_P} - LENGTH(bin(w)) END AS rho
            FROM split),
          reg AS (SELECT bucket, MAX(rho) AS r FROM rho GROUP BY 1),
          summed AS (
            SELECT CAST(SUM(CAST(1 AS BIGINT) << (53 - r)) AS BIGINT) AS zi,
                   COUNT(*) AS m_present
            FROM reg),
          z AS (SELECT CAST(zi AS DOUBLE) / 9007199254740992.0 +
                         ($HLL_M - m_present) AS z,
                       m_present FROM summed),
          exact AS (SELECT COUNT(DISTINCT l_orderkey) AS n_exact FROM lineitem)
          SELECT n_exact,
                 m_present AS registers_hit,
                 ROUND(1e-9 + CAST($ALPHA_256 AS DOUBLE) * $HLL_M * $HLL_M / z, 2) AS hll_estimate,
                 ROUND(1e-9 + (CAST($ALPHA_256 AS DOUBLE) * $HLL_M * $HLL_M / z - n_exact) / n_exact, 6)
                   AS rel_error
          FROM z CROSS JOIN exact""")
}
