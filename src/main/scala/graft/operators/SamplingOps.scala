package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Deterministic sampling — the way a 100 TB training-data pipeline
  * actually samples. RNG-based `df.sample` is irreproducible across
  * engines, partitionings and reruns; hashing a stable key gives the same
  * sample everywhere, composes with incremental loads (a document's
  * membership never changes as the corpus grows), and needs no state.
  * Both operators are pure map-side projections + one shuffle for the
  * stratified rank.
  */
object SamplingOps extends graft.QueryFamily {
  /** 28-bit md5-prefix hash of the salted key — same recipe as the MinHash
    * base hash (md5 is bit-identical in both engines). */
  private def keyHash(salt: String) = expr(
    s"CAST(conv(substring(md5(concat('$salt', CAST(doc_id AS STRING))), 1, 7), 16, 10) AS BIGINT)")

  val queries: Map[String, Q] = Map(
    // SA21: FIXED-SIZE per-stratum reservoir — "give me exactly k docs per
    // language", the eval-set / probe-set cut that rate-based sampling
    // (sa1) can't provide. Deterministic reservoir: rank every doc by a
    // salted hash and keep the k smallest per stratum — statistically a
    // uniform without-replacement draw, but reproducible across engines,
    // reruns, and partitionings, and append-stable for the docs that stay
    // (a new doc can only displace the current max). Scale shape: the
    // native heap TopKPerGroup operator (bounded k-row state per group in
    // every partial, merged like any agg) — no window sort of the corpus,
    // no per-stratum single task.
    "sa21_hash_reservoir" -> { (s, d) =>
      val ranked = Tables.documents(s, d)
        .withColumn("h", keyHash("graft-reservoir"))
        .select(col("lang"), col("doc_id"), col("h"))
      graft.plans.TopK.perGroup(ranked, k = 50,
        groupCols = Seq("lang"),
        orderBy = Seq("h" -> true, "doc_id" -> true))
        .orderBy(col("lang"), col("h"), col("doc_id"))
    },

    // SA19: UNIMAX budget allocation (Chung et al. 2023, public) — the
    // mixture rule that replaced temperature sampling for multilingual
    // pretraining: give every stratum as equal a token budget as
    // possible WITHOUT repeating any stratum past its available tokens
    // (the cap that prevents epoching tail languages into memorization).
    // Exact integer water-filling: strata sorted by availability, the
    // pivot m = the largest rank where granting every remaining stratum
    // rank-m's availability still fits the budget (feasibility is
    // monotone in rank, so the pivot is a MAX over the prefix-feasible
    // set — no iteration); below the pivot a stratum takes all it has,
    // above it the leftover budget splits evenly (floor division).
    // allocated = least(avail, cap) is exact in int64; epochs_ppm =
    // allocated·1e6 div avail is the repeat factor on the ppm grid.
    // Budget = 40% of the corpus (2·total div 5). Shape at scale: one
    // corpus hash-agg to strata; everything after (rank window, cumsum,
    // pivot max, cap) runs on the DIMENSION-sized strata table
    // (#lang × #source rows) — the global window never sees corpus rows.
    "sa19_unimax" -> { (s, d) =>
      // checkpointed: the dimension-sized strata table feeds the total,
      // the rank window, and (through ranked) the pivot and the final
      // projection — one corpus pass total, never one per consumer
      val strata = Tables.documents(s, d)
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        .groupBy("lang", "source")
        .agg(sum(col("n_tokens")).as("avail"))
        .localCheckpoint()
      val tot = strata.agg(
        sum(col("avail")).as("total"), count(lit(1)).as("k"))
      val ord = Window.orderBy(col("avail"), col("lang"), col("source"))
      val ranked = strata.crossJoin(broadcast(tot))
        .withColumn("budget", expr("(2 * total) div 5"))
        .withColumn("i", row_number().over(ord).cast("long"))
        .withColumn("cum", sum(col("avail")).over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // cum is monotone in i, so max(i) and max(cum) over the feasible
      // prefix are the same row's values
      val pivot = ranked
        .filter(col("cum") + (col("k") - col("i")) * col("avail") <= col("budget"))
        .agg(max(col("i")).as("m"), max(col("cum")).as("sm"))
        .select(coalesce(col("m"), lit(0L)).as("m"),
          coalesce(col("sm"), lit(0L)).as("sm"))
      ranked.crossJoin(broadcast(pivot))
        .withColumn("cap", expr("(budget - sm) div (k - m)"))
        .withColumn("allocated", least(col("avail"), col("cap")))
        .select(col("lang"), col("source"), col("avail"),
          col("allocated"),
          expr("(allocated * 1000000) div avail").as("epochs_ppm"),
          (col("avail") > col("cap")).as("capped"))
        .orderBy("lang", "source")
    },

    // SA18: DSIR — Data Selection via Importance Resampling (Xie et al.
    // 2023), the domain-targeting selector: score every raw document by
    // how much more likely its hashed-unigram features are under the
    // TARGET distribution (here: the lang='en' slice) than under the raw
    // corpus, then keep the top-K by importance weight. Both feature
    // distributions are add-one-smoothed counts over the tx23 hashing-
    // trick space (28-bit md5 prefix mod 1024), so "train" is two
    // 1024-row count aggs and "score" is one broadcast join + per-doc
    // sum — one corpus scan each, no iteration. Shape at scale: the
    // bucket-ratio table is CONSTANT-sized (1024 rows broadcast), the
    // totals are a 1-row broadcast, selection is orderBy+limit
    // (TakeOrdered, never a global sort materialization). Ranking and
    // the emitted weight use the ROUNDED value (6 digits) so the top-K
    // cut is summation-order independent; ties break on doc_id.
    "sa18_dsir_resample" -> { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("tok"))
        .withColumn("b",
          expr("CAST(conv(substring(md5(tok), 1, 7), 16, 10) AS BIGINT) % 1024"))
      val cr = toks.groupBy("b").agg(count(lit(1)).as("cr"))
      val ct = toks.filter(col("lang") === "en")
        .groupBy("b").agg(count(lit(1)).as("ct"))
      val totals = toks.agg(
        count(lit(1)).as("nr"),
        count(when(col("lang") === "en", lit(1))).as("nt"))
      val ratio = cr.join(ct, Seq("b"), "left")
        .na.fill(0L, Seq("ct"))
        .crossJoin(broadcast(totals))
        .select(col("b"),
          (log((col("ct") + lit(1)).cast("double") / (col("nt") + lit(1024L)))
            - log((col("cr") + lit(1)).cast("double") / (col("nr") + lit(1024L))))
            .as("lr"))
      toks.join(broadcast(ratio), Seq("b"))
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_tokens"), sum(col("lr")).as("w"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          graft.functions.Exact.stableRound(col("w"), 6).as("weight"))
        .orderBy(col("weight").desc, col("doc_id"))
        .limit(100)
    },

    // SA16: epoch-deterministic GLOBAL SHUFFLE + token-budget shard plan
    // — the writer side of a training pipeline. Each epoch orders the
    // corpus by a seeded content hash (a fresh deterministic permutation
    // per epoch number — no RNG state to checkpoint, any worker can
    // recompute any doc's position), then packs docs into fixed
    // token-budget shards IN THAT ORDER and emits the shard manifest
    // (doc count, token fill, owned hash range) a shard writer hands to
    // workers. The global running offset is tx14's TWO-LEVEL distributed
    // prefix sum — bucket by the hash's top bits, cumsum the tiny
    // per-bucket totals, window only WITHIN buckets — so no
    // single-partition sort exists at any scale; the shuffle order IS the
    // hash order, so "globally shuffled" costs one hash-key exchange.
    // Docs are not split: a shard is the docs whose cumulative START
    // falls in its budget window, so fills overhang by at most one doc —
    // the standard whole-doc sharding convention.
    "sa16_shard_shuffle" -> { (s, d) =>
      val BUDGET = 4096L
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("tokens"))
        .withColumn("h", expr(
          "CAST(conv(substring(md5(concat('graft-epoch-3|', " +
            "CAST(doc_id AS STRING))), 1, 7), 16, 10) AS BIGINT)"))
        .withColumn("pid", (col("h") / 1048576L).cast("long")) // 256 buckets
      val offs = docs.groupBy("pid").agg(sum(col("tokens")).as("psum"))
        .withColumn("offset", coalesce(sum(col("psum")).over(
          Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .select("pid", "offset")
      val wLocal = Window.partitionBy("pid").orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.join(broadcast(offs), Seq("pid"))
        .withColumn("cum_end", sum(col("tokens")).over(wLocal) + col("offset"))
        .withColumn("shard", ((col("cum_end") - col("tokens")) / BUDGET).cast("long"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tokens")).as("tokens"),
          min(col("h")).as("h_min"),
          max(col("h")).as("h_max"))
        .orderBy("shard")
    },

    // SA17: CURRICULUM PHASE PLAN — the length-based curriculum schedule
    // (easy → hard by token count, the classic warm-up ordering): the
    // corpus sorts by (tokens, doc_id) and splits into three phases at
    // 20% / 50% of the total token budget. Phase boundaries are EXACT
    // integer comparisons on the cumulative start offset (cum·5 < T,
    // cum·2 < T — no float fractions to disagree on), and the running
    // offset is the two-level distributed prefix sum keyed by token-value
    // range buckets (pid = tokens div 64 follows the sort key), so no
    // single-partition sort exists. Output: the per-phase manifest a
    // training scheduler consumes (docs, tokens, length range).
    "sa17_curriculum_plan" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("tokens"))
        .withColumn("pid", (col("tokens") / 64L).cast("long"))
      val offs = docs.groupBy("pid").agg(sum(col("tokens")).as("psum"))
        .withColumn("offset", coalesce(sum(col("psum")).over(
          Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .select("pid", "offset")
      val total = docs.agg(sum(col("tokens")).as("t_total"))
      val wLocal = Window.partitionBy("pid").orderBy("tokens", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.join(broadcast(offs), Seq("pid"))
        .withColumn("cum_end", sum(col("tokens")).over(wLocal) + col("offset"))
        .withColumn("cum_start", col("cum_end") - col("tokens"))
        .crossJoin(broadcast(total))
        .withColumn("phase",
          when(col("cum_start") * 5 < col("t_total"), 1L)
            .when(col("cum_start") * 2 < col("t_total"), 2L)
            .otherwise(3L))
        .groupBy("phase")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("tokens")).as("tokens"),
          min(col("tokens")).as("min_len"),
          max(col("tokens")).as("max_len"))
        .orderBy("phase")
    },

    // SA9: per-DOMAIN document cap — web-scale curation's guard against a
    // single domain flooding the corpus (the per-domain caps every
    // Common-Crawl-derived dataset applies). Each source keeps at most K
    // documents, chosen by salted-hash order (deterministic, append-safe:
    // a doc's keep/drop never changes as OTHER sources grow; it can only
    // change as its own source fills). One rank window per source
    // partition — the exchange is on the domain key, linear in corpus
    // size; the hot-domain partition is bounded by that domain's own doc
    // count, the exact skew this operator exists to cut. The gate emits
    // per-source kept/dropped counts plus a kept-id checksum so the
    // oracle pins the exact membership.
    "sa9_domain_cap" -> { (s, d) =>
      val K = 10
      val w = Window.partitionBy("source")
        .orderBy(col("h"), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("h", keyHash("graft-domain-cap"))
        .withColumn("rk", row_number().over(w))
        .withColumn("kept", col("rk") <= K)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("kept"), lit(1))).as("n_kept"),
          sum(when(col("kept"), col("doc_id")).otherwise(lit(0L))).as("kept_id_checksum"))
        .orderBy("source")
    },

    // SA1: deterministic ~10% Bernoulli-style sample by hash bucket.
    "sa1_hash_sample" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("h", keyHash("graft-sample"))
        .filter(pmod(col("h"), lit(100)) < 10)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    },

    // SA3: train/val/test split assignment — the canonical 90/5/5 corpus
    // split, by salted hash bucket so (a) membership is reproducible across
    // engines/reruns/partitionings, (b) a document's split NEVER changes as
    // the corpus grows (append-safe), (c) no coordination or state. The
    // gate emits per-split counts plus an order-independent membership
    // checksum (sum of doc_ids) so the oracle proves the exact assignment,
    // not just the sizes.
    "sa3_split_assign" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("h", keyHash("graft-split"))
        .withColumn("split",
          when(pmod(col("h"), lit(100)) < 90, "train")
            .when(pmod(col("h"), lit(100)) < 95, "val")
            .otherwise("test"))
        .groupBy("split")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("doc_id_checksum"))
        .orderBy("split")
    },

    // SA2: stratified sample — exactly min(20, |stratum|) docs per lang,
    // picked by hash order (deterministic, uniform within stratum).
    "sa2_stratified_sample" -> { (s, d) =>
      val w = Window.partitionBy("lang")
        .orderBy(col("h"), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("h", keyHash("graft-strata"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 20)
        .select(col("doc_id"), col("lang"), col("rk"))
        .orderBy("lang", "rk")
    },

    // SA6: IMPORTANCE-WEIGHTED sampling — keep probability proportional to
    // a per-row weight (here n_chars: longer documents upweighted), the
    // mixture-reweighting primitive corpus blending uses ("sample source X
    // at 2x"). Deterministic weighted Bernoulli: keep iff
    // hash_uniform < weight / max_weight, evaluated as the INTEGER cross-
    // product comparison u * max_w < w * 2^20 — no float boundary, exact in
    // both engines, append-stable per doc, no RNG state. The max weight is
    // a one-row broadcast.
    "sa6_weighted_sample" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val mx = docs.agg(max(col("n_chars")).as("mx"))
      docs.crossJoin(broadcast(mx))
        .withColumn("u", pmod(keyHash("graft-weight"), lit(1048576L)))
        .withColumn("keep", col("u") * col("mx") < col("n_chars") * lit(1048576L))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("keep"), col("doc_id"))).as("kept_checksum"))
        .orderBy("lang")
    },

    // SA4: TEMPORAL split — train on the past, evaluate on the future (the
    // only leakage-safe split for forecasting-shaped tasks; a hash split
    // would let the model peek at later events of the same period). The
    // gate reports per-split counts + an order-independent checksum, and —
    // because entity overlap ACROSS a time split is the subtle leakage a
    // user-level task must know about — the count of users appearing on
    // both sides of the cutoff rides along as an audit column.
    "sa4_temporal_split" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"))
        .withColumn("split",
          when(col("ts") < lit("2024-01-20").cast("timestamp"), "train")
            .otherwise("eval"))
      val stats = ev.groupBy("split").agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("event_id")).as("event_id_checksum"))
      val overlap = ev.select("user_id", "split").distinct()
        .groupBy("user_id").agg(count(lit(1)).as("ns"))
        .agg(sum(when(col("ns") === 2, 1L).otherwise(0L)).as("users_both_sides"))
      stats.crossJoin(broadcast(overlap)).orderBy("split")
    },

    // SA5: class-BALANCED downsample — every label capped to the smallest
    // class's size, members picked by salted-hash order (deterministic,
    // append-stable): the standard imbalance correction before training a
    // classifier head. The cap is a one-row broadcast; the per-class pick
    // is one rank window — no driver-side counts.
    "sa5_balanced_downsample" -> { (s, d) =>
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
        .withColumn("h", expr(
          "CAST(conv(substring(md5(concat('graft-balance', CAST(vec_id AS STRING))), 1, 7), 16, 10) AS BIGINT)"))
      val cap = e.groupBy("label").agg(count(lit(1)).as("n"))
        .agg(min(col("n")).as("cap"))
      val w = Window.partitionBy("label").orderBy(col("h"), col("vec_id"))
      e.withColumn("rk", row_number().over(w).cast("long"))
        .crossJoin(broadcast(cap))
        .filter(col("rk") <= col("cap"))
        .groupBy("label").agg(
          count(lit(1)).as("n_kept"),
          sum(col("vec_id")).as("vec_id_checksum"))
        .orderBy("label")
    },

    // SA8: domain-MIXTURE plan — the sampling schedule that reshapes the
    // corpus's natural language distribution into a target training
    // mixture. Per language: available tokens, corpus share, the target
    // weight, and sampling_rate = target_share / corpus_share (rate > 1
    // means the domain repeats — its epoch count — rate < 1 means it
    // downsamples). One aggregate + a 1-row broadcast total; the plan
    // itself is dimension-sized output, never data-sized.
    "sa8_mixture_plan" -> { (s, d) =>
      val targetW = typedLit(Map(
        "en" -> 0.5, "de" -> 0.125, "es" -> 0.125, "fr" -> 0.125, "zh" -> 0.125))
      val perLang = Tables.documents(s, d)
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      val total = perLang.agg(sum(col("n_tokens")).as("total_tokens"))
      perLang.crossJoin(broadcast(total))
        .withColumn("corpus_share",
          col("n_tokens").cast("double") / col("total_tokens"))
        .withColumn("target_share", targetW(col("lang")))
        .withColumn("sampling_rate", col("target_share") / col("corpus_share"))
        .select("lang", "n_docs", "n_tokens", "corpus_share", "target_share",
          "sampling_rate")
        .orderBy("lang")
    },

    // SA13: propensity reweighting + effective sample size — give every
    // (lang, source) stratum the weight that equalizes source shares
    // within its language (w = (N/k)/n), and report Kish's ESS per
    // stratum's language. With per-stratum-constant weights the ESS
    // collapses to k · harmonic-mean(n_i) = k²/Σ(1/n_i); Σ(1/n_i) is
    // computed as a SORTED left fold so both engines sum the identical
    // double sequence in the identical order — no partial-agg order
    // nondeterminism reaches the gate. Two dimension-sized hash-aggs.
    // SA15: temperature-scaled mixture reweighting — the multilingual /
    // multi-source sampling rule (mT5, CC-style): sample source i with
    // probability ∝ pᵢ^α (α = 0.5 here), which upweights the tail without
    // flattening the head. sqrt IS exactly rounded under IEEE-754 (unlike
    // ln/exp), so the per-lang terms are bit-identical cross-engine; the
    // 5-term normalizer folds in SORTED order (sa13's collect-sort-fold)
    // so accumulation order can't drift either. Output: raw vs tempered
    // share and the sampling boost each lang gets.
    "sa15_temperature_mixture" -> { (s, d) =>
      val perLang = Tables.documents(s, d)
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      val global = perLang.agg(
        sum(col("n_tokens")).as("total_tokens"),
        expr("""aggregate(transform(sort_array(collect_list(n_tokens)),
                 x -> sqrt(CAST(x AS DOUBLE))), CAST(0.0 AS DOUBLE), (a, x) -> a + x)""")
          .as("z"))
      perLang.crossJoin(broadcast(global))
        .withColumn("raw_share",
          col("n_tokens").cast("double") / col("total_tokens"))
        .withColumn("temp_share", sqrt(col("n_tokens").cast("double")) / col("z"))
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          graft.functions.Exact.stableRound(col("raw_share"), 6).as("raw_share"),
          graft.functions.Exact.stableRound(col("temp_share"), 6).as("temp_share"),
          graft.functions.Exact.stableRound(
            col("temp_share") / col("raw_share"), 6).as("sampling_boost"))
        .orderBy("lang")
    },

    "sa13_reweight_ess" -> { (s, d) =>
      val bySrc = Tables.documents(s, d)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"))
      val byLang = bySrc.groupBy("lang")
        .agg(
          count(lit(1)).as("k_sources"),
          sum(col("n_docs")).as("lang_docs"),
          expr("aggregate(transform(sort_array(collect_list(n_docs)), x -> 1.0 / x), CAST(0.0 AS DOUBLE), (a, x) -> a + x)")
            .as("sum_inv"))
      bySrc.join(broadcast(byLang), "lang")
        .select(
          col("lang"), col("source"), col("n_docs"),
          graft.functions.Exact.stableRound(
            col("lang_docs").cast("double") / col("k_sources") / col("n_docs"), 6)
            .as("weight"),
          graft.functions.Exact.stableRound(
            col("k_sources").cast("double") * col("k_sources") / col("sum_inv"), 3)
            .as("ess"))
        .orderBy("lang", "source")
    },

    // SA20: TEMPERATURE-SAMPLED language mixture at ARBITRARY α (Conneau &
    // Lample, XLM / XLM-R §3.1: α = 0.3 — public): reweight natural
    // language shares q_i = n_i/N to p_i ∝ q_i^α, flattening the head and
    // boosting the tail without sa19's hard availability caps. sa15
    // already gates the α = 0.5 special case BECAUSE sqrt is IEEE-exact;
    // this operator retires that restriction: general pow() may differ in
    // the last ulp across libm implementations, so each weight is
    // stableRound'd to 6 dp BEFORE normalization, the normalizer is an
    // exact decimal sum of those rounded terms, and every downstream
    // division runs on bit-identical operands — the discipline that makes
    // ANY libm-transcendental mixture rule hash-gateable, not just the
    // algebraic ones. Also emits the per-language boost factor p/q (the
    // up/down-sampling rate a data card reports). One corpus hash-agg to
    // the language dimension; everything after is dimension-sized with
    // 1-row broadcasts.
    "sa20_temperature_mixture" -> { (s, d) =>
      import graft.functions.Exact.stableRound
      val byLang = Tables.documents(s, d)
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val tot = byLang.agg(sum(col("n_docs")).as("n_total"))
      val w = byLang.crossJoin(broadcast(tot))
        .withColumn("q", col("n_docs").cast("double") / col("n_total"))
        .withColumn("w", stableRound(pow(col("q"), lit(0.3)), 6))
      val z = w.agg(
        round(sum(col("w").cast("decimal(30,8)")), 6).cast("double").as("z"))
      w.crossJoin(broadcast(z))
        .select(col("lang"), col("n_docs"),
          stableRound(col("q"), 6).as("q_share"),
          stableRound(col("w") / col("z"), 6).as("p_share"),
          stableRound(col("w") / col("z") / col("q"), 4).as("boost"))
        .orderBy("lang")
    })

  val oracles: Map[String, String] = Map(
    "sa21_hash_reservoir" ->
      """SELECT lang, doc_id, h FROM (
           SELECT lang, doc_id,
                  ('0x' || substr(md5('graft-reservoir' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT AS h,
                  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
                    ('0x' || substr(md5('graft-reservoir' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT,
                    doc_id) AS rn
           FROM documents)
         WHERE rn <= 50
         ORDER BY lang, h, doc_id""",

    // Mirrors sa20's float discipline: pow rounded (biased) to 6 dp before
    // the decimal normalizer; all divisions on identical operands.
    "sa20_temperature_mixture" ->
      """WITH by_lang AS (
           SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY 1),
         tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM by_lang),
         w AS (
           SELECT lang, n_docs,
                  CAST(n_docs AS DOUBLE) / n_total AS q,
                  ROUND(pow(CAST(n_docs AS DOUBLE) / n_total, 0.3) + 1e-9, 6) AS w
           FROM by_lang CROSS JOIN tot),
         z AS (SELECT CAST(ROUND(SUM(CAST(w AS DECIMAL(30,8))), 6) AS DOUBLE) AS z
               FROM w)
         SELECT lang, n_docs,
                ROUND(q + 1e-9, 6) AS q_share,
                ROUND(w / z + 1e-9, 6) AS p_share,
                ROUND(w / z / q + 1e-9, 4) AS boost
         FROM w CROSS JOIN z ORDER BY lang""",

    // Same integer water-filling: monotone feasibility prefix, pivot by
    // MAX, floor-division cap. SUM()s cast back to BIGINT (HUGEINT→
    // float64 is a hash class).
    "sa19_unimax" ->
      """WITH strata AS (
           SELECT lang, source,
                  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS avail
           FROM documents GROUP BY 1, 2),
         tot AS (SELECT CAST(SUM(avail) AS BIGINT) AS total,
                        COUNT(*) AS k,
                        CAST((2 * SUM(avail)) // 5 AS BIGINT) AS budget
                 FROM strata),
         ranked AS (
           SELECT lang, source, avail, total, k, budget,
                  CAST(ROW_NUMBER() OVER (ORDER BY avail, lang, source) AS BIGINT) AS i,
                  CAST(SUM(avail) OVER (ORDER BY avail, lang, source
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           FROM strata CROSS JOIN tot),
         pv AS (
           SELECT COALESCE(MAX(i), 0) AS m, COALESCE(MAX(cum), 0) AS sm
           FROM ranked WHERE cum + (k - i) * avail <= budget)
         SELECT lang, source, avail,
                CAST(LEAST(avail, (budget - sm) // (k - m)) AS BIGINT) AS allocated,
                CAST((LEAST(avail, (budget - sm) // (k - m)) * 1000000) // avail
                     AS BIGINT) AS epochs_ppm,
                avail > (budget - sm) // (k - m) AS capped
         FROM ranked CROSS JOIN pv
         ORDER BY lang, source""",

    // Same hashed-feature space, smoothing, and rounded-weight ranking;
    // ln() on exact integer ratios both engines.
    "sa18_dsir_resample" ->
      """WITH toks AS (SELECT doc_id, lang,
                              UNNEST(string_split(text, ' ')) AS tok
                       FROM documents),
          b AS (SELECT doc_id, lang,
                       ('0x' || substr(md5(tok), 1, 7))::BIGINT % 1024 AS b
                FROM toks),
          cr AS (SELECT b, COUNT(*) AS cr FROM b GROUP BY 1),
          ct AS (SELECT b, COUNT(*) AS ct FROM b WHERE lang = 'en' GROUP BY 1),
          tot AS (SELECT COUNT(*) AS nr,
                         COUNT(*) FILTER (WHERE lang = 'en') AS nt
                  FROM b),
          lr AS (SELECT cr.b,
                        ln(CAST(COALESCE(ct.ct, 0) + 1 AS DOUBLE) / (tot.nt + 1024))
                          - ln(CAST(cr.cr + 1 AS DOUBLE) / (tot.nr + 1024)) AS lr
                 FROM cr LEFT JOIN ct USING (b), tot),
          w AS (SELECT doc_id, lang, COUNT(*) AS n_tokens, SUM(lr) AS w
                FROM b JOIN lr USING (b) GROUP BY 1, 2)
          SELECT doc_id, lang, n_tokens, ROUND(1e-9 + w, 6) AS weight
          FROM w ORDER BY weight DESC, doc_id LIMIT 100""",

    // Flat-window replay of the value-bucketed prefix sum: same
    // (tokens, doc_id) total order, same integer phase boundaries.
    "sa17_curriculum_plan" ->
      """WITH docs AS (SELECT doc_id,
                              CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
                       FROM documents),
          cum AS (SELECT doc_id, tokens,
                         SUM(tokens) OVER (ORDER BY tokens, doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum_end,
                         SUM(tokens) OVER () AS t_total
                  FROM docs),
          phased AS (SELECT tokens,
                            CASE WHEN (cum_end - tokens) * 5 < t_total THEN 1
                                 WHEN (cum_end - tokens) * 2 < t_total THEN 2
                                 ELSE 3 END AS phase
                     FROM cum)
          SELECT CAST(phase AS BIGINT) AS phase,
                 COUNT(*) AS n_docs,
                 CAST(SUM(tokens) AS BIGINT) AS tokens,
                 MIN(tokens) AS min_len, MAX(tokens) AS max_len
          FROM phased GROUP BY 1 ORDER BY 1""",

    // One flat window replays the two-level prefix sum exactly: the
    // bucketed cumsum visits docs in the same (h, doc_id) total order.
    "sa16_shard_shuffle" ->
      """WITH docs AS (SELECT doc_id,
                              CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
                              ('0x' || substr(md5('graft-epoch-3|' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT AS h
                       FROM documents),
          cum AS (SELECT doc_id, tokens, h,
                         SUM(tokens) OVER (ORDER BY h, doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum_end
                  FROM docs)
          SELECT CAST((cum_end - tokens) // 4096 AS BIGINT) AS shard,
                 COUNT(*) AS n_docs,
                 CAST(SUM(tokens) AS BIGINT) AS tokens,
                 MIN(h) AS h_min, MAX(h) AS h_max
          FROM cum GROUP BY 1 ORDER BY 1""",

    "sa9_domain_cap" ->
      """WITH h AS (SELECT doc_id, source,
                           ('0x' || substr(md5('graft-domain-cap' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT AS h
                    FROM documents),
          r AS (SELECT doc_id, source,
                       row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
                FROM h)
          SELECT source, COUNT(*) AS n_docs,
                 CAST(SUM(CASE WHEN rk <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                 CAST(SUM(CASE WHEN rk <= 10 THEN doc_id ELSE 0 END) AS BIGINT)
                   AS kept_id_checksum
          FROM r GROUP BY 1 ORDER BY 1""",

    "sa1_hash_sample" ->
      """SELECT doc_id, lang, source
         FROM (SELECT *, ('0x' || substr(md5('graft-sample' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT AS h
               FROM documents)
         WHERE h % 100 < 10
         ORDER BY doc_id""",

    "sa3_split_assign" ->
      """SELECT CASE WHEN h % 100 < 90 THEN 'train'
                     WHEN h % 100 < 95 THEN 'val'
                     ELSE 'test' END AS split,
                COUNT(*) AS n_docs,
                CAST(SUM(doc_id) AS BIGINT) AS doc_id_checksum
         FROM (SELECT *, ('0x' || substr(md5('graft-split' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT AS h
               FROM documents)
         GROUP BY 1 ORDER BY 1""",

    "sa2_stratified_sample" ->
      """SELECT doc_id, lang, rk
         FROM (SELECT doc_id, lang,
                      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
               FROM (SELECT *, ('0x' || substr(md5('graft-strata' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT AS h
                     FROM documents))
         WHERE rk <= 20
         ORDER BY lang, rk""",

    "sa6_weighted_sample" ->
      """WITH mx AS (SELECT MAX(n_chars) AS mx FROM documents),
          k AS (SELECT d.doc_id, d.lang, d.n_chars,
                       ('0x' || substr(md5('graft-weight' || CAST(d.doc_id AS VARCHAR)), 1, 7))::BIGINT % 1048576 AS u,
                       m.mx
                FROM documents d, mx m)
          SELECT lang, COUNT(*) AS n_total,
                 CAST(SUM(CASE WHEN u * mx < n_chars * 1048576 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                 CAST(SUM(CASE WHEN u * mx < n_chars * 1048576 THEN doc_id END) AS BIGINT) AS kept_checksum
          FROM k GROUP BY 1 ORDER BY 1""",

    "sa4_temporal_split" ->
      """WITH sp AS (SELECT event_id, user_id,
                            CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20'
                                 THEN 'train' ELSE 'eval' END AS split
                     FROM events),
          stats AS (SELECT split, COUNT(*) AS n_events,
                           COUNT(DISTINCT user_id) AS n_users,
                           CAST(SUM(event_id) AS BIGINT) AS event_id_checksum
                    FROM sp GROUP BY 1),
          ov AS (SELECT CAST(SUM(CASE WHEN ns = 2 THEN 1 ELSE 0 END) AS BIGINT) AS users_both_sides
                 FROM (SELECT user_id, COUNT(*) AS ns
                       FROM (SELECT DISTINCT user_id, split FROM sp) GROUP BY 1))
          SELECT s.split, s.n_events, s.n_users, s.event_id_checksum,
                 o.users_both_sides
          FROM stats s, ov o ORDER BY s.split""",

    "sa5_balanced_downsample" ->
      """WITH e AS (SELECT vec_id, label,
                           ('0x' || substr(md5('graft-balance' || CAST(vec_id AS VARCHAR)), 1, 7))::BIGINT AS h
                    FROM embeddings),
          cap AS (SELECT MIN(n) AS cap
                  FROM (SELECT label, COUNT(*) AS n FROM e GROUP BY 1)),
          ranked AS (SELECT vec_id, label,
                            ROW_NUMBER() OVER (PARTITION BY label ORDER BY h, vec_id) AS rk
                     FROM e)
          SELECT label, COUNT(*) AS n_kept,
                 CAST(SUM(vec_id) AS BIGINT) AS vec_id_checksum
          FROM ranked, cap WHERE rk <= cap
          GROUP BY label ORDER BY label""",

    // Division ORDER mirrors the Spark side exactly (share first, then
    // rate = target / share) so the doubles are bit-identical.
    "sa8_mixture_plan" ->
      """WITH per_lang AS (
           SELECT lang, COUNT(*) AS n_docs,
                  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY 1),
          total AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM per_lang),
          shared AS (
            SELECT lang, n_docs, n_tokens,
                   CAST(n_tokens AS DOUBLE) / total_tokens AS corpus_share,
                   CAST(CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.125
                                  WHEN 'es' THEN 0.125 WHEN 'fr' THEN 0.125
                                  WHEN 'zh' THEN 0.125 END AS DOUBLE) AS target_share
            FROM per_lang, total)
          SELECT lang, n_docs, n_tokens, corpus_share, target_share,
                 target_share / corpus_share AS sampling_rate
          FROM shared ORDER BY lang""",

    // Σ(1/n) via the same sorted sequential fold as the Spark side;
    // division order in weight/ess mirrors exactly.
    "sa15_temperature_mixture" ->
      """WITH per_lang AS (
           SELECT lang,
                  CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY 1),
         g AS (
           SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                  list_aggregate(list_transform(list_sort(list(n_tokens)),
                    x -> sqrt(CAST(x AS DOUBLE))), 'sum') AS z
           FROM per_lang)
         SELECT p.lang, p.n_docs, p.n_tokens,
                ROUND(1e-9 + CAST(p.n_tokens AS DOUBLE) / g.total_tokens, 6) + 0.0
                  AS raw_share,
                ROUND(1e-9 + sqrt(CAST(p.n_tokens AS DOUBLE)) / g.z, 6) + 0.0
                  AS temp_share,
                ROUND(1e-9 + (sqrt(CAST(p.n_tokens AS DOUBLE)) / g.z)
                      / (CAST(p.n_tokens AS DOUBLE) / g.total_tokens), 6) + 0.0
                  AS sampling_boost
         FROM per_lang p CROSS JOIN g
         ORDER BY p.lang""",

    "sa13_reweight_ess" ->
      """WITH by_src AS (
           SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY 1, 2),
         by_lang AS (
           SELECT lang,
                  CAST(COUNT(*) AS BIGINT) AS k_sources,
                  CAST(SUM(n_docs) AS BIGINT) AS lang_docs,
                  list_aggregate(list_transform(list_sort(list(n_docs)), x -> 1.0 / x), 'sum')
                    AS sum_inv
           FROM by_src GROUP BY 1)
         SELECT s.lang, s.source, s.n_docs,
                ROUND(1e-9 + CAST(l.lang_docs AS DOUBLE) / l.k_sources / s.n_docs, 6) + 0.0
                  AS weight,
                ROUND(1e-9 + CAST(l.k_sources AS DOUBLE) * l.k_sources / l.sum_inv, 3) + 0.0
                  AS ess
         FROM by_src s JOIN by_lang l ON s.lang = l.lang
         ORDER BY s.lang, s.source""")
}
