package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Exact._

/** Statistical profiling operators — the "does this corpus/feature behave"
  * audits a training-data pipeline runs before it trusts a column: Pearson
  * correlation and OLS trend (drift of a metric over time), a Benford
  * first-digit audit (fabricated/synthetic-value detection on money-like
  * columns), and per-dimension embedding statistics (the dead-dimension /
  * scale-mismatch check run before any ANN index build).
  *
  * Cross-engine exactness strategy (shared by all four): every SUM is over
  * INTEGERS — the input doubles are integer-valued (quantity), have a fixed
  * 2-decimal scale (money → ×100), or are deterministically scaled-and-
  * rounded floats (embeddings → FLOOR(x·1e6 + 0.5)) — so partials merge in
  * any order with no FP drift; the closing formula (one short chain of IEEE
  * double ops: a few ×/−, one sqrt, one ÷) runs on identical double inputs
  * in both engines and is bit-identical, with [[Exact.stableRound]]'s 1e-9
  * bias absorbing the residual half-boundary risk of the final ROUND.
  * That makes even sqrt-bearing statistics hash-gateable.
  *
  * At scale: every op here is a partial-aggregable groupBy (map-side
  * combine, one exchange on the group key) followed by per-group
  * constant-time math — the textbook mergeable-statistics shape; nothing
  * sorts, nothing windows, nothing collects.
  *
  * Reference scope: the reference pipeline computes plain AVG/STDDEV
  * aggregates (02_analytics_queries.sql) but no second-moment cross
  * statistics; this pack is part of the beyond-reference training-data ops
  * (builder brief), sited with qc_drift_chi2 (distribution drift) as the
  * column-level statistical audit family.
  */
object StatOps extends graft.QueryFamily {

  /** Embeddings on the exact integer grid, SHIFTED non-negative (+4e6) so
    * truncating integer division is floor division in both engines — the
    * emb7 k-means convention (L2 distances are shift-invariant). */
  private[graft] def intGrid(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"),
      expr("""transform(embedding, x ->
                CAST(FLOOR(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT) + 4000000)""")
        .as("ivec"))

  /** Lloyd assignment: each vector to its nearest centroid by exact int64
    * squared L2 (ties → min cell id). The codebook collapses to ONE
    * broadcast row, so assignment is a pure projection over the corpus. */
  private[graft] def lloydAssign(iv: DataFrame, centroids: DataFrame): DataFrame = {
    val book = centroids
      .agg(sort_array(collect_list(struct(col("cell"), col("cvec")))).as("abook"))
    iv.crossJoin(broadcast(book))
      .withColumn("a", expr(
        """array_min(transform(abook, a -> named_struct(
             'dist', aggregate(zip_with(ivec, a.cvec, (x, y) -> (x - y) * (x - y)),
                               CAST(0 AS BIGINT), (acc, e) -> acc + e),
             'cell', a.cell)))"""))
      .select(col("vec_id"), col("ivec"),
        col("a.cell").as("cell"), col("a.dist").as("dist"))
  }

  /** Lloyd re-centering on the integer grid: round-half-up means via
    * (2·Σx + n) div (2n), pure integer ops (operands non-negative). */
  private[graft] def lloydRecenter(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("ivec")).as(Seq("dim", "x")))
      .groupBy("cell", "dim")
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .withColumn("c", expr("(2 * sx + n) div (2 * n)"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("ps"))
      .select(col("cell"), expr("transform(ps, p -> p.c)").as("cvec"))

  /** The emb7-trained codebook: one Lloyd round from the deterministic
    * seed (16 lowest-vec_id vectors). Shared by the emb7 census gate and
    * sim12's trained-quantizer IVF search. */
  private[graft] def trainedCentroids(s: SparkSession, d: String): DataFrame = {
    val iv = intGrid(s, d)
    val seed = iv.orderBy("vec_id").limit(16)
      .select(col("vec_id").as("cell"), col("ivec").as("cvec"))
    lloydRecenter(lloydAssign(iv, seed))
  }

  /** The emb7 oracle's CTE chain through the trained codebook `c1`
    * (cell, dim, c) — shared by the emb7 and sim12 oracles. Binds `iu`
    * (vec_id, dim, x: shifted integer grid) and `aid`/`c0`/`d1`/`a1`. */
  private[graft] val duckTrainedCentroids: String =
    """iu AS (
         SELECT vec_id, i - 1 AS dim,
                CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
                  + 4000000 AS x
         FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)),
       aid AS (SELECT vec_id AS cell FROM embeddings ORDER BY vec_id LIMIT 16),
       c0 AS (SELECT a.cell, iu.dim, iu.x AS c
              FROM aid a JOIN iu ON iu.vec_id = a.cell),
       d1 AS (SELECT iu.vec_id, c.cell,
                     SUM((iu.x - c.c) * (iu.x - c.c)) AS dist
              FROM iu JOIN c0 c ON c.dim = iu.dim GROUP BY 1, 2),
       a1 AS (SELECT vec_id, cell FROM
                (SELECT vec_id, cell,
                        ROW_NUMBER() OVER (PARTITION BY vec_id
                          ORDER BY dist, cell) AS rn
                 FROM d1)
              WHERE rn = 1),
       c1 AS (SELECT a1.cell, iu.dim,
                     CAST((2 * SUM(iu.x) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS c
              FROM a1 JOIN iu ON iu.vec_id = a1.vec_id GROUP BY 1, 2)"""

  val queries: Map[String, Q] = Map(
    // F20: Pearson correlation per group, exact-sum formulation.
    // corr is scale-invariant, so both variables are integer-scaled
    // (quantity is integral; price has exactly 2 decimals → ×100) and the
    // five sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) are exact
    // integer aggregates — the same mergeable-moments shape a 1000-executor
    // partial agg produces. Σy² reaches ~1.5e21 at sf0.1, past int64, so
    // the squared terms accumulate in DECIMAL(38,0) (exact, order-free).
    "f20_pearson_corr" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
        .withColumn("ix", col("l_quantity").cast("long"))
        .withColumn("iy", round(col("l_extendedprice") * 100).cast("long"))
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("n"),
          sum(col("ix")).as("sx"),
          sum(col("iy")).as("sy"),
          sum((col("ix") * col("iy")).cast("decimal(38,0)")).as("sxy"),
          sum((col("ix") * col("ix")).cast("decimal(38,0)")).as("sxx"),
          sum((col("iy") * col("iy")).cast("decimal(38,0)")).as("syy"))
        .select(
          col("l_returnflag"), col("l_linestatus"), col("n"),
          stableRound(
            (col("n") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) /
            (sqrt(col("n") * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")) *
             sqrt(col("n") * col("syy").cast("double") -
                col("sy").cast("double") * col("sy").cast("double"))), 6)
            .as("corr_qty_price"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // TS4: grouped OLS trend — slope/intercept of daily revenue over time
    // per order priority (the "is this metric drifting" audit). Two-level:
    // an exact integer day-revenue rollup (cents), then the closed-form
    // normal equations over (day-index, revenue) per group. x is an
    // integer day offset, y integer cents, so all five sums are exact in
    // int64 (Σxy ≤ ~3e16 at sf0.1); the slope/intercept division chain is
    // the only double math.
    "ts4_ols_trend" -> { (s, d) =>
      val daily = Tables.orders(s, d)
        .withColumn("x", datediff(to_date(col("o_orderdate")), lit("1992-01-01")).cast("long"))
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        .groupBy(col("o_orderpriority"), col("x"))
        .agg(sum(col("cents")).as("y"))
      val slope = (col("nd") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
        (col("nd") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double"))
      daily.groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_days"),
          sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .withColumn("nd", col("n_days").cast("double"))
        .select(
          col("o_orderpriority"), col("n_days"),
          stableRound(slope / 100.0, 6).as("slope_per_day"),
          stableRound(((col("sy").cast("double") - slope * col("sx").cast("double")) /
            col("nd")) / 100.0, 4).as("intercept"))
        .orderBy("o_orderpriority")
    },

    // QC-BENFORD: first-significant-digit census of order totals vs the
    // Benford expectation — the classic fabricated-data audit. The digit
    // is taken from the DECIMAL(18,2) string form (both engines print the
    // same plain decimal; no log10 — logs are engine-library-dependent),
    // the expected shares are 6-dp literals of log10(1+1/d), and the
    // per-digit share is one double division. One tiny hash-agg (9 groups)
    // + a 1-row broadcast total: scan-bound at any scale.
    "qc_benford" -> { (s, d) =>
      val orders = Tables.orders(s, d)
        .withColumn("digit",
          substring(col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1)
            .cast("int"))
      val total = orders.agg(count(lit(1)).as("n_total"))
      val expected = typedLit(Map(
        1 -> 0.301030, 2 -> 0.176091, 3 -> 0.124939, 4 -> 0.096910,
        5 -> 0.079181, 6 -> 0.066947, 7 -> 0.057992, 8 -> 0.051153,
        9 -> 0.045757))
      orders.groupBy("digit").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(total))
        .withColumn("obs_share", col("n").cast("double") / col("n_total"))
        .withColumn("exp_share", expected(col("digit")))
        .select(
          col("digit"), col("n"),
          stableRound(col("obs_share"), 6).as("obs_share"),
          col("exp_share"),
          stableRound(abs(col("obs_share") - col("exp_share")), 6).as("abs_dev"))
        .orderBy("digit")
    },

    // QC-WELCH: Welch's t-statistic of every cohort against a reference
    // cohort — the A/B-comparison audit ("did this segment's spend shift,
    // or is it noise"). t is scale-invariant, so the math runs entirely in
    // integer cents: each cohort reduces to exact (n, Σ, Σ²) moments
    // (int64 / DECIMAL(38,0), mergeable partials), the reference cohort's
    // moments attach as a broadcast 1-row join, and the closing chain
    // (two sample variances, one sqrt, one division) is identical IEEE
    // both engines. No p-value on purpose: the t→p transform needs the
    // incomplete beta function, which is engine-library-dependent —
    // consumers threshold |t| directly.
    "qc_welch_ttest" -> { (s, d) =>
      val moments = Tables.orders(s, d)
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("cents")).as("sx"),
          sum((col("cents") * col("cents")).cast("decimal(38,0)")).as("sxx"))
        .withColumn("m", col("sx").cast("double") / col("n"))
        .withColumn("v",
          (col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double") / col("n")) /
            (col("n") - 1))
      val ref = moments.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("n").as("n0"), col("m").as("m0"), col("v").as("v0"))
      moments.crossJoin(broadcast(ref))
        .select(
          col("o_orderpriority"), col("n"),
          stableRound(col("m") / 100.0, 4).as("mean_price"),
          stableRound((col("m") - col("m0")) /
            sqrt(col("v") / col("n") + col("v0") / col("n0")), 6).as("t_vs_urgent"))
        .orderBy("o_orderpriority")
    },

    // EMB1: per-dimension embedding statistics — the dead-dimension /
    // scale-mismatch audit before any ANN index or quantizer is fit
    // (a dimension with ~zero variance wastes index bits; one with a
    // wildly different scale dominates L2). posexplode → one groupBy(dim):
    // 64 groups, partial-aggregated, one exchange. Means/RMS go through
    // the deterministic float scaling (FLOOR(v·1e6 + 0.5), exact int64
    // sums); min/max are selections of the raw float (no rounding needed —
    // both engines pick the same value).
    "emb1_dim_stats" -> { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .withColumn("vd", col("v").cast("double"))
        .withColumn("v6", floor(col("vd") * 1e6 + 0.5).cast("long"))
        .withColumn("sq9", floor(col("vd") * col("vd") * 1e9 + 0.5).cast("long"))
        .groupBy("dim")
        .agg(
          count(lit(1)).as("n"),
          sum(col("v6")).as("s6"),
          sum(col("sq9")).as("s9"),
          min(col("vd")).as("min_v"),
          max(col("vd")).as("max_v"))
        .select(
          col("dim"), col("n"),
          stableRound(col("s6").cast("double") / col("n") / 1e6, 6).as("mean_v"),
          col("min_v"), col("max_v"),
          stableRound(sqrt(col("s9").cast("double") / col("n") / 1e9), 6).as("rms_v"))
        .orderBy("dim")
    },

    // EMB2: product-quantization assignment — the PQ half of IVF-PQ. The
    // 64-dim space splits into 8 contiguous 8-dim subspaces; the codebook
    // is the 16 lowest-vec_id vectors' sub-vectors (a deterministic seed
    // choice — a trained codebook would slot in identically); every vector
    // gets its nearest code per subspace. All coordinates go through
    // emb1's FLOOR(v·1e6+0.5) integer scaling FIRST, so squared L2
    // distances are exact int64 and the argmin (ties → min code) cannot
    // flip cross-engine. Output: per-cell occupancy + total quantization
    // error — the codebook-quality audit before an ANN index build.
    // Shape at scale: tiny codebook broadcast onto the exploded
    // coordinate stream, two mergeable hash-aggs, one min_by per
    // (vector, subspace) — linear in corpus size, never pairwise.
    // EMB7: DISTRIBUTED K-MEANS TRAINING, hash-gated — two fixed Lloyd
    // rounds over the embedding corpus in exact integer arithmetic, so
    // the trained codebook (and its per-cell error profile) is
    // bit-identical cross-engine and the gate carries a full DuckDB
    // oracle. This is the "a trained codebook slots in identically"
    // claim of sim3/emb2 made concrete: seed = 16 lowest-vec_id vectors;
    // assignment = argmin of exact int64 squared L2 (ties → min cell,
    // the emb2 convention); re-centering rounds each mean coordinate
    // back onto the integer grid with (2·Σx + n) div (2n) — round-half-
    // up in pure integer ops. Coordinates are SHIFTED non-negative
    // (+4e6) first so truncating integer division IS floor division in
    // both engines (they disagree on negative operands); L2 distances
    // are shift-invariant. Fixed iteration count because convergence
    // looping is a driver-side scalar check (dd7's discipline) — two
    // rounds already demonstrates the train loop's full plan.
    // Shape at scale per round: codebook = ONE broadcast row, assignment
    // is a pure projection (argmin over 16 via nested HOFs, no shuffle),
    // re-centering is one (cell, dim)-keyed hash-agg + a K×64-row
    // rollup — the whole train step is one corpus pass, no iteration
    // state on the driver beyond the broadcast codebook lineage.
    "emb7_kmeans_train" -> { (s, d) =>
      lloydAssign(intGrid(s, d), trainedCentroids(s, d))
        .groupBy("cell")
        .agg(
          count(lit(1)).as("n_vecs"),
          sum(col("dist")).as("total_err"),
          min(col("vec_id")).as("min_member"))
        .orderBy("cell")
    },

    "emb2_pq_assign" -> { (s, d) =>
      val iv = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("vec_id"),
          (col("dim") / 8).cast("int").as("sub"),
          col("dim"),
          floor(col("v").cast("double") * 1e6 + 0.5).cast("long").as("iv"))
      val anchorIds = Tables.embeddings(s, d)
        .select(col("vec_id")).orderBy("vec_id").limit(16)
      val anchors = iv.join(broadcast(anchorIds.withColumnRenamed("vec_id", "aid")),
          col("vec_id") === col("aid"))
        .select(col("aid").as("code"), col("sub").as("a_sub"),
          col("dim").as("a_dim"), col("iv").as("a_iv"))
      val dists = iv
        .join(broadcast(anchors),
          col("sub") === col("a_sub") && col("dim") === col("a_dim"))
        .groupBy("vec_id", "sub", "code")
        .agg(sum((col("iv") - col("a_iv")) * (col("iv") - col("a_iv"))).as("dist"))
      dists
        .groupBy("vec_id", "sub")
        .agg(min(struct(col("dist"), col("code"))).as("best"))
        .select(col("sub"), col("best.code").as("code"), col("best.dist").as("dist"))
        .groupBy("sub", "code")
        .agg(count(lit(1)).as("n_vecs"), sum(col("dist")).as("total_err"))
        .orderBy("sub", "code")
    },

    // EMB9: PCA TRAINING BY POWER ITERATION, hash-gated — the dominant
    // principal direction of the embedding corpus via three fixed
    // matrix-free power rounds (w ← normalize(Aᵀ(Aw)) over the
    // mean-centered corpus), emb7's exact-arithmetic discipline applied
    // to a second iterative trainer: centering uses the shifted grid's
    // round-half-up integer means (the shift cancels in y = xs − μ, so
    // y IS the centered data); the row projection t = y·w stays in
    // int64 at ANY corpus size (|y| ≤ 8e6, |w| ≤ 1e6, 64 dims
    // ⇒ |t| ≤ 5e14); t is coarsened by an abs-guarded integer division
    // (sign·(|t| div 1e3) — div on negatives differs cross-engine, abs
    // first makes truncation = floor in both) before the back-
    // projection Σ t·y, which accumulates in DECIMAL(38,0)/HUGEINT —
    // exact in both engines; per-round renormalization maps the max
    // coordinate to ±1e6 with the (2a·1e6 + m) div (2m) round-half-up
    // integer form. Fixed 3 rounds (convergence looping would be a
    // driver scalar per round — dd7's discipline; three rounds
    // demonstrate the loop and the Rayleigh monotonicity is spec-
    // asserted). Shape at scale: the WHOLE training run is one job —
    // per round two corpus-pass hash-aggs (project, back-project) and
    // a 64-row broadcast of state; no driver round-trips, no
    // materialized Gram matrix (never O(d²·n) work), no iteration
    // state beyond the broadcast loading vector.
    "emb9_pca_power" -> { (s, d) =>
      pcaState(s, d)._2
        .select(col("dim"), col("w").cast("long").as("loading")).orderBy("dim")
    },

    // EMB10: PCA PROJECTION APPLY — the train→apply half of the emb9
    // chain, the same relationship sim12 has to emb7: the trained
    // loading w is applied to every vector as (a) the integer projection
    // coefficient coeff = sign(t)·(|t| div (S div 1e6)) where t = y·w
    // and S = Σw² (i.e. 1e6·⟨y,w⟩/⟨w,w⟩, the rank-1 PCA coordinate on
    // the 1e6 grid) and (b) the exact rank-1 reconstruction residual
    // energy Σ_d (y_d − sign(coeff·w_d)·(|coeff·w_d| div 1e6))² — the
    // information the compression loses, the outlier score a curation
    // pass reviews. Bounds: |t| ≤ 5e14 (int64); Cauchy-Schwarz gives
    // |coeff·w_d/1e6| ≤ ‖y‖₂ ≤ 6.4e7, so resid² ≤ 5.2e15 and the
    // 64-dim energy ≤ 3.4e17 — all exact int64, abs-guarded divisions
    // so truncation = floor in both engines. Shape at scale: train is
    // emb9's one job; apply is a pure broadcast projection over the
    // corpus (two 1-row broadcasts: packed w and S) — no shuffle, no
    // second corpus pass beyond the scan.
    "emb10_pca_project" -> { (s, d) =>
      val (yvec, w) = pcaState(s, d)
      val wRow = w
        .agg(array_sort(collect_list(struct(col("dim"), col("w")))).as("pw"))
        .select(expr("transform(pw, q -> q.w)").as("wv"))
      val sRow = w.agg(sum(col("w") * col("w")).as("ss"))
      yvec.crossJoin(broadcast(wRow)).crossJoin(broadcast(sRow))
        .select(col("vec_id"), col("yv"), col("wv"), expr(
          """aggregate(zip_with(yv, wv, (a, b) -> a * b),
                       CAST(0 AS BIGINT), (acc, e) -> acc + e)""").as("t"),
          col("ss"))
        .select(col("vec_id"), col("yv"), col("wv"), expr(
          "(CASE WHEN t < 0 THEN -1 ELSE 1 END) * (abs(t) div (ss div 1000000))")
          .as("coeff"))
        .select(col("vec_id"), col("coeff"), expr(
          """aggregate(zip_with(yv, wv, (yd, wd) ->
               (yd - (CASE WHEN coeff * wd < 0 THEN -1 ELSE 1 END)
                     * (abs(coeff * wd) div 1000000))
               * (yd - (CASE WHEN coeff * wd < 0 THEN -1 ELSE 1 END)
                       * (abs(coeff * wd) div 1000000))),
             CAST(0 AS BIGINT), (acc, e) -> acc + e)""").as("resid_energy"))
        .orderBy("vec_id")
    })

  /** emb9's training state, shared with emb10's apply step: the centered
    * corpus packed as (vec_id, yv) arrays, plus the loading vector w
    * after three power rounds. See the emb9_pca_power scaladoc for the
    * exact-arithmetic scheme.
    *
    * Iterative-trainer shape (MLlib's discipline — KMeans/LoR cache the
    * training set): the packed corpus is materialized ONCE
    * (localCheckpoint, dd26's idiom), and each round is then (a) a
    * map-only projection computing every row's coarsened coefficient
    * against the broadcast loading and (b) ONE 64-group back-projection
    * hash-agg — one exchange per round. The 64-row w is checkpointed
    * per round so round k's plan does not nest rounds 1..k−1 (without
    * it Spark re-executed earlier rounds inside every pass — measured
    * 5.6 s instead of ~1.5 s at sf0.1). Iteration state = the 64-row
    * broadcast vector; corpus state = one cached pass, exactly what a
    * 1000-executor trainer would persist. */
  private[graft] def pcaState(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val xs = intGrid(s, d)
      .select(col("vec_id"), posexplode(col("ivec")).as(Seq("dim", "xs")))
    val mu = xs.groupBy("dim")
      .agg(expr("(2 * sum(xs) + count(*)) div (2 * count(*))").as("m"))
      .localCheckpoint()
    val yvec = xs.join(broadcast(mu), "dim")
      .select(col("vec_id"), col("dim"), (col("xs") - col("m")).as("y"))
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("dim"), col("y")))).as("p"))
      .select(col("vec_id"), expr("transform(p, q -> q.y)").as("yv"))
      .localCheckpoint()
    var w: DataFrame = mu.select(col("dim"), lit(1000000L).as("w"))
    for (_ <- 1 to 3) {
      val wRow = w
        .agg(array_sort(collect_list(struct(col("dim"), col("w")))).as("pw"))
        .select(expr("transform(pw, q -> q.w)").as("wv"))
      val tv = yvec.crossJoin(broadcast(wRow))
        .select(col("yv"), expr(
          """aggregate(zip_with(yv, wv, (a, b) -> a * b),
                       CAST(0 AS BIGINT), (acc, e) -> acc + e)""").as("t"))
        .select(col("yv"), expr(
          "(CASE WHEN t < 0 THEN -1 ELSE 1 END) * (abs(t) div 1000)").as("t2"))
      // yv is dim-sorted, so posexplode's position IS the dimension
      val sv = tv.select(col("t2"), posexplode(col("yv")).as(Seq("dim", "yd")))
        .groupBy("dim")
        .agg(sum(expr("CAST(t2 AS DECIMAL(38,0)) * yd")).as("sv"))
      val mx = sv.agg(greatest(max(abs(col("sv"))), lit(1)).as("mx"))
      w = sv.crossJoin(broadcast(mx))
        .select(col("dim"), expr(
          """(CASE WHEN sv < 0 THEN -1 ELSE 1 END) *
             ((2000000 * abs(sv) + mx) div (2 * mx))""").as("w"))
        .localCheckpoint()
    }
    (yvec, w)
  }

  val oracles: Map[String, String] = Map(
    "f20_pearson_corr" ->
      """WITH t AS (
           SELECT l_returnflag, l_linestatus,
                  CAST(l_quantity AS BIGINT) AS ix,
                  CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS iy
           FROM lineitem),
         m AS (
           SELECT l_returnflag, l_linestatus,
                  COUNT(*) AS n,
                  SUM(ix) AS sx, SUM(iy) AS sy,
                  SUM(CAST(ix * iy AS DECIMAL(38,0))) AS sxy,
                  SUM(CAST(ix * ix AS DECIMAL(38,0))) AS sxx,
                  SUM(CAST(iy * iy AS DECIMAL(38,0))) AS syy
           FROM t GROUP BY 1, 2)
         SELECT l_returnflag, l_linestatus, n,
                ROUND(1e-9 +
                  (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                  (SQRT(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                   SQRT(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
                  AS corr_qty_price
         FROM m ORDER BY l_returnflag, l_linestatus""",

    "ts4_ols_trend" ->
      """WITH daily AS (
           SELECT o_orderpriority,
                  CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
                  SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS y
           FROM orders GROUP BY 1, 2),
         m AS (
           SELECT o_orderpriority, COUNT(*) AS n_days,
                  SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
           FROM daily GROUP BY 1)
         SELECT o_orderpriority, n_days,
                ROUND(1e-9 +
                  ((n_days * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                   (n_days * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                  / 100.0, 6) AS slope_per_day,
                ROUND(1e-9 +
                  ((CAST(sy AS DOUBLE) -
                    ((n_days * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                     (n_days * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE))
                   / CAST(n_days AS DOUBLE)) / 100.0, 4) AS intercept
         FROM m ORDER BY o_orderpriority""",

    "qc_welch_ttest" ->
      """WITH m AS (
           SELECT o_orderpriority, COUNT(*) AS n,
                  SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS sx,
                  SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) *
                           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS DECIMAL(38,0))) AS sxx
           FROM orders GROUP BY 1),
         mv AS (
           SELECT o_orderpriority, n,
                  CAST(sx AS DOUBLE) / n AS m,
                  (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1) AS v
           FROM m),
         ref AS (SELECT n AS n0, m AS m0, v AS v0 FROM mv
                 WHERE o_orderpriority = '1-URGENT')
         SELECT mv.o_orderpriority, mv.n,
                ROUND(1e-9 + mv.m / 100.0, 4) AS mean_price,
                ROUND(1e-9 + (mv.m - ref.m0) /
                  SQRT(mv.v / mv.n + ref.v0 / ref.n0), 6) AS t_vs_urgent
         FROM mv CROSS JOIN ref ORDER BY mv.o_orderpriority""",

    "qc_benford" ->
      """WITH t AS (
           SELECT CAST(SUBSTRING(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1)
                       AS INTEGER) AS digit
           FROM orders),
         g AS (SELECT digit, COUNT(*) AS n FROM t GROUP BY 1),
         tot AS (SELECT COUNT(*) AS n_total FROM t),
         e(digit, exp_share) AS (VALUES
           (1, 0.301030), (2, 0.176091), (3, 0.124939), (4, 0.096910),
           (5, 0.079181), (6, 0.066947), (7, 0.057992), (8, 0.051153),
           (9, 0.045757))
         SELECT g.digit, g.n,
                ROUND(1e-9 + CAST(g.n AS DOUBLE) / tot.n_total, 6) AS obs_share,
                CAST(e.exp_share AS DOUBLE) AS exp_share,
                ROUND(1e-9 + ABS(CAST(g.n AS DOUBLE) / tot.n_total
                                 - CAST(e.exp_share AS DOUBLE)), 6) AS abs_dev
         FROM g JOIN e ON e.digit = g.digit CROSS JOIN tot
         ORDER BY g.digit""",

    "emb1_dim_stats" ->
      """WITH x AS (
           SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS vd
           FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)),
         t AS (
           SELECT dim, vd,
                  CAST(FLOOR(vd * 1e6 + 0.5) AS BIGINT) AS v6,
                  CAST(FLOOR(vd * vd * 1e9 + 0.5) AS BIGINT) AS sq9
           FROM x)
         SELECT dim, COUNT(*) AS n,
                ROUND(1e-9 + CAST(SUM(v6) AS DOUBLE) / COUNT(*) / 1e6, 6) AS mean_v,
                MIN(vd) AS min_v, MAX(vd) AS max_v,
                ROUND(1e-9 + SQRT(CAST(SUM(sq9) AS DOUBLE) / COUNT(*) / 1e9), 6) AS rms_v
         FROM t GROUP BY dim ORDER BY dim""",

    // Two Lloyd rounds replayed: same seed, same integer round-half-up
    // re-centering, same (dist, cell) tie order. The chain through the
    // trained codebook c1 is duckTrainedCentroids (shared with sim12).
    "emb7_kmeans_train" ->
      s"""WITH $duckTrainedCentroids,
         d2 AS (SELECT iu.vec_id, c.cell,
                       SUM((iu.x - c.c) * (iu.x - c.c)) AS dist
                FROM iu JOIN c1 c ON c.dim = iu.dim GROUP BY 1, 2),
         a2 AS (SELECT vec_id, cell, dist FROM
                  (SELECT vec_id, cell, dist,
                          ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY dist, cell) AS rn
                   FROM d2)
                WHERE rn = 1)
         SELECT cell,
                COUNT(*) AS n_vecs,
                CAST(SUM(dist) AS BIGINT) AS total_err,
                MIN(vec_id) AS min_member
         FROM a2 GROUP BY 1 ORDER BY 1""",

    "emb2_pq_assign" ->
      """WITH iv AS (
           SELECT vec_id,
                  CAST((i - 1) // 8 AS INTEGER) AS sub,
                  i - 1 AS dim,
                  CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS iv
           FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)),
         aid AS (SELECT vec_id AS code FROM embeddings ORDER BY vec_id LIMIT 16),
         anchors AS (
           SELECT a.code, v.sub AS a_sub, v.dim AS a_dim, v.iv AS a_iv
           FROM aid a JOIN iv v ON v.vec_id = a.code),
         dists AS (
           SELECT iv.vec_id, iv.sub, an.code,
                  SUM((iv.iv - an.a_iv) * (iv.iv - an.a_iv)) AS dist
           FROM iv JOIN anchors an ON iv.sub = an.a_sub AND iv.dim = an.a_dim
           GROUP BY 1, 2, 3),
         best AS (
           SELECT vec_id, sub, code, dist,
                  ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                     ORDER BY dist, code) AS rn
           FROM dists)
         SELECT sub, code,
                CAST(COUNT(*) AS BIGINT) AS n_vecs,
                CAST(SUM(dist) AS BIGINT) AS total_err
         FROM best WHERE rn = 1
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // Three power rounds unrolled; all integer/HUGEINT arithmetic with
    // abs-before-div so truncating // is floor division, mirroring the
    // Spark side's DECIMAL(38,0) accumulation exactly.
    "emb9_pca_power" ->
      s"""WITH $duckPcaChain
         SELECT dim, CAST(w AS BIGINT) AS loading FROM w3 ORDER BY dim""",

    // emb9's trained loading applied: integer projection coefficient and
    // exact rank-1 residual energy (see the Spark-side scaladoc for the
    // bounds). SUM(BIGINT) lands as HUGEINT in DuckDB → CAST back to
    // BIGINT so the hash classes match.
    "emb10_pca_project" ->
      s"""WITH $duckPcaChain,
         ss AS (SELECT SUM(w * w) AS ss FROM w3),
         tv AS (SELECT vec_id, SUM(y.y * w3.w) AS t
                FROM y JOIN w3 USING (dim) GROUP BY 1),
         cv AS (SELECT vec_id,
                       (CASE WHEN t < 0 THEN -1 ELSE 1 END)
                         * CAST(ABS(t) // CAST(ss // 1000000 AS BIGINT) AS BIGINT)
                         AS coeff
                FROM tv, ss)
         SELECT y.vec_id, cv.coeff,
                CAST(SUM((y.y - (CASE WHEN cv.coeff * w3.w < 0 THEN -1 ELSE 1 END)
                                  * CAST(ABS(cv.coeff * w3.w) // 1000000 AS BIGINT))
                         * (y.y - (CASE WHEN cv.coeff * w3.w < 0 THEN -1 ELSE 1 END)
                                    * CAST(ABS(cv.coeff * w3.w) // 1000000 AS BIGINT)))
                     AS BIGINT) AS resid_energy
         FROM y JOIN w3 USING (dim) JOIN cv ON cv.vec_id = y.vec_id
         GROUP BY 1, 2 ORDER BY y.vec_id""")

  /** The DuckDB replay of pcaState's three power rounds (shared by the
    * emb9 and emb10 oracles): CTE chain ending at `y` (centered corpus)
    * and `w3` (the trained loading). */
  private[graft] def duckPcaChain: String =
      """iu AS (
           SELECT vec_id, i - 1 AS dim,
                  CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
                    + 4000000 AS xs
           FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)),
         mu AS (SELECT dim,
                       CAST((2 * SUM(xs) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS m
                FROM iu GROUP BY 1),
         y AS (SELECT vec_id, iu.dim, iu.xs - mu.m AS y
               FROM iu JOIN mu USING (dim)),
         w0 AS (SELECT dim, CAST(1000000 AS BIGINT) AS w FROM mu),
         t1 AS (SELECT vec_id, SUM(y.y * w0.w) AS t
                FROM y JOIN w0 USING (dim) GROUP BY 1),
         u1 AS (SELECT vec_id,
                       (CASE WHEN t < 0 THEN -1 ELSE 1 END)
                         * CAST(ABS(t) // 1000 AS BIGINT) AS t2
                FROM t1),
         s1 AS (SELECT dim, SUM(CAST(t2 AS HUGEINT) * y) AS sv
                FROM y JOIN u1 USING (vec_id) GROUP BY 1),
         m1 AS (SELECT GREATEST(MAX(ABS(sv)), 1) AS mx FROM s1),
         w1 AS (SELECT dim,
                       (CASE WHEN sv < 0 THEN -1 ELSE 1 END)
                         * CAST((2000000 * ABS(sv) + mx) // (2 * mx) AS BIGINT) AS w
                FROM s1, m1),
         t2 AS (SELECT vec_id, SUM(y.y * w1.w) AS t
                FROM y JOIN w1 USING (dim) GROUP BY 1),
         u2 AS (SELECT vec_id,
                       (CASE WHEN t < 0 THEN -1 ELSE 1 END)
                         * CAST(ABS(t) // 1000 AS BIGINT) AS t2
                FROM t2),
         s2 AS (SELECT dim, SUM(CAST(t2 AS HUGEINT) * y) AS sv
                FROM y JOIN u2 USING (vec_id) GROUP BY 1),
         m2 AS (SELECT GREATEST(MAX(ABS(sv)), 1) AS mx FROM s2),
         w2 AS (SELECT dim,
                       (CASE WHEN sv < 0 THEN -1 ELSE 1 END)
                         * CAST((2000000 * ABS(sv) + mx) // (2 * mx) AS BIGINT) AS w
                FROM s2, m2),
         t3 AS (SELECT vec_id, SUM(y.y * w2.w) AS t
                FROM y JOIN w2 USING (dim) GROUP BY 1),
         u3 AS (SELECT vec_id,
                       (CASE WHEN t < 0 THEN -1 ELSE 1 END)
                         * CAST(ABS(t) // 1000 AS BIGINT) AS t2
                FROM t3),
         s3 AS (SELECT dim, SUM(CAST(t2 AS HUGEINT) * y) AS sv
                FROM y JOIN u3 USING (vec_id) GROUP BY 1),
         m3 AS (SELECT GREATEST(MAX(ABS(sv)), 1) AS mx FROM s3),
         w3 AS (SELECT dim,
                       (CASE WHEN sv < 0 THEN -1 ELSE 1 END)
                         * CAST((2000000 * ABS(sv) + mx) // (2 * mx) AS BIGINT) AS w
                FROM s3, m3)"""
}
