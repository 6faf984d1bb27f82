package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Exact._

/** Data-governance and corpus-planning operators — the audits a training-data
  * platform runs on a corpus before it ships: a k-anonymity suppression
  * census (privacy risk of quasi-identifier combinations), a per-column
  * encoding plan (the dictionary-vs-plain decision that drives parquet
  * layout at 100 TB), association-rule mining over event baskets (the
  * co-occurrence structure behind feature crosses), a Pareto-skyline
  * extraction (non-dominated points without the quadratic dominance
  * self-join), a day-of-week seasonal index (the deseasonalization factor a
  * forecasting pipeline attaches to daily series), and an hourly activity
  * bitmap (bitmap-index construction via integer bit_or partials).
  *
  * Reference scope: all beyond-reference (builder brief's training-data
  * direction); sited with the qc_* quality family and the s1x layout
  * family. The exactness strategy follows StatOps: integer/mergeable
  * partials everywhere, one short double chain at the end, stableRound's
  * 1e-9 bias on every emitted ratio.
  */
object GovernanceOps extends graft.QueryFamily {
  private val k = 5 // k-anonymity threshold

  val queries: Map[String, Q] = Map(
    // QC-DATACARD: the per-source datasheet a corpus release ships
    // (Datasheets for Datasets, Gebru et al. 2018 — public): volume
    // (docs/tokens/chars), language spread, the MODEL-BASED keep rate
    // (tx23's hashed-linear classifier margin > 0, recomputed here from
    // the same derived weights), and the exact-duplicate rate
    // (1 − distinct md5(text) / docs). One gate composing three audit
    // modalities so the release card is itself hash-checked. Shape at
    // scale: the token pass is tx23's single explode + two mergeable
    // hash-aggs; dup counting is one distinct-agg per source — linear,
    // no joins except the per-source rollup merge.
    "qc_datacard" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val perDoc = docs
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("tok"))
        .withColumn("b",
          expr("CAST(conv(substring(md5(tok), 1, 7), 16, 10) AS BIGINT) % 1024"))
        .withColumn("w",
          (lit(1103515245L) * col("b") + 12345L) % 2147483648L % 2001L - 1000L)
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n_toks"), sum(col("w")).as("wsum"))
      val tokenSide = perDoc.groupBy("source")
        .agg(
          sum(col("n_toks")).as("total_tokens"),
          sum(when(col("wsum") > 0, 1L).otherwise(0L)).as("n_keep"))
      val docSide = docs.groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("total_chars"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(md5(col("text"))).as("n_distinct_texts"))
      docSide.join(tokenSide, Seq("source"))
        .select(
          col("source"), col("n_docs"), col("total_tokens"),
          col("total_chars"), col("n_langs"),
          stableRound(col("n_keep").cast("double") / col("n_docs"), 6)
            .as("keep_rate"),
          stableRound(lit(1.0) -
            col("n_distinct_texts").cast("double") / col("n_docs"), 6)
            .as("exact_dup_rate"))
        .orderBy("source")
    },

    // QC-K: k-anonymity audit. Quasi-identifier = (lang, source, length
    // bucket); any QI group with fewer than k members re-identifies its
    // documents, so the suppression rate (share of docs that would need
    // redaction) is the per-language privacy cost of releasing the corpus.
    // Two hash-aggs, both mergeable — the 100 TB shape.
    "qc_kanonymity" -> { (s, d) =>
      val groups = Tables.documents(s, d)
        .groupBy(
          col("lang"), col("source"),
          floor(col("n_chars") / lit(100.0)).cast("long").as("len_bucket"))
        .agg(count(lit(1)).as("n"))
      groups.groupBy("lang")
        .agg(
          count(lit(1)).as("n_groups"),
          sum(when(col("n") < k, 1L).otherwise(0L)).as("risk_groups"),
          sum(when(col("n") < k, col("n")).otherwise(0L)).as("risk_docs"),
          sum(col("n")).as("n_docs"))
        .select(
          col("lang"), col("n_groups"), col("risk_groups"),
          col("risk_docs"), col("n_docs"),
          stableRound(col("risk_docs").cast("double") / col("n_docs"), 6)
            .as("suppression_rate"))
        .orderBy("lang")
    },

    // QC-EXP: declarative expectation suite — the Great-Expectations-style
    // contract run as ONE operator: six rules (not-null, range, composite
    // uniqueness, accepted values, positivity, referential integrity)
    // evaluated from a single conditional-aggregate pass plus one semi
    // join, each emitting (n_checked, n_ok, measured, passed). Pass/fail
    // is decided on EXACT integers (n_ok == n_checked), never on the
    // rounded display ratio — a 1e-7 shortfall must fail. Rule 3 is
    // expected to FAIL on this data ((l_orderkey, l_linenumber) is not
    // unique — the s22 lesson): a validation operator that can't show a
    // failing row is untested by construction.
    "qc_expectation_suite" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val base = li.agg(
        count(lit(1)).as("n"),
        sum(when(col("l_shipdate").isNotNull, 1L).otherwise(0L)).as("ok_notnull"),
        sum(when(col("l_quantity").between(1, 50), 1L).otherwise(0L)).as("ok_range"),
        countDistinct(struct(col("l_orderkey"), col("l_linenumber"))).as("n_distinct"),
        sum(when(col("l_returnflag").isin("A", "N", "R"), 1L).otherwise(0L)).as("ok_accept"),
        sum(when(col("l_extendedprice") > 0, 1L).otherwise(0L)).as("ok_pos"))
      val refOk = li.select(col("l_partkey"))
        .join(Tables.part(s, d).select(col("p_partkey").as("l_partkey")),
          Seq("l_partkey"), "left_semi")
        .agg(count(lit(1)).as("ok_ref"))
      def rule(id: Long, name: String, okCol: org.apache.spark.sql.Column) =
        base.crossJoin(broadcast(refOk)).select(
          lit(id).as("rule_id"), lit(name).as("expectation"),
          col("n").as("n_checked"), okCol.as("n_ok"),
          stableRound(okCol.cast("double") / col("n"), 6).as("measured"),
          (okCol === col("n")).as("passed"))
      Seq(
        rule(1L, "not_null:l_shipdate", col("ok_notnull")),
        rule(2L, "range:l_quantity[1,50]", col("ok_range")),
        rule(3L, "unique:(l_orderkey,l_linenumber)", col("n_distinct")),
        rule(4L, "accepted_values:l_returnflag{A,N,R}", col("ok_accept")),
        rule(5L, "positive:l_extendedprice", col("ok_pos")),
        rule(6L, "referential:l_partkey->part", col("ok_ref")))
        .reduce(_ unionAll _)
        .orderBy("rule_id")
    },

    // S19: encoding plan. One pass computes n_rows + per-column NDV
    // (Catalyst expands the multi-distinct agg — one exchange, not six
    // scans); the dictionary-vs-plain decision and the code width in bits
    // (ceil(log2 ndv) via LENGTH(bin(ndv-1))) fall out per column. This is
    // the stats input to a parquet writer's encoding chooser.
    "s19_encoding_plan" -> { (s, d) =>
      Tables.lineitem(s, d)
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("l_returnflag")).as("d_returnflag"),
          countDistinct(col("l_linestatus")).as("d_linestatus"),
          countDistinct(col("l_partkey")).as("d_partkey"),
          countDistinct(col("l_suppkey")).as("d_suppkey"),
          countDistinct(col("l_quantity")).as("d_quantity"),
          countDistinct(col("l_shipdate")).as("d_shipdate"))
        .selectExpr(
          """stack(6,
               'l_returnflag', d_returnflag,
               'l_linestatus', d_linestatus,
               'l_partkey',    d_partkey,
               'l_suppkey',    d_suppkey,
               'l_quantity',   d_quantity,
               'l_shipdate',   d_shipdate) AS (column_name, n_distinct)""",
          "n_rows")
        .select(
          col("column_name"), col("n_rows"), col("n_distinct"),
          length(bin(col("n_distinct") - 1)).cast("long").as("code_bits"),
          when(col("n_distinct") * 10 <= col("n_rows"), lit("dictionary"))
            .otherwise(lit("plain")).as("encoding"))
        .orderBy("column_name")
    },

    // F24: association rules over event baskets (basket = the distinct
    // event types a user ever fires). distinct-first bounds the pair
    // self-join fan-out to C(t,2) per user for t = |event type alphabet| —
    // linear in users, not quadratic in events; item counts and the basket
    // total attach as broadcasts. support/confidence/lift from integer
    // counts only.
    "f24_assoc_rules" -> { (s, d) =>
      val b = Tables.events(s, d).select("user_id", "event_type").distinct()
      val nb = b.agg(countDistinct(col("user_id")).as("n_baskets"))
      val item = b.groupBy("event_type").agg(count(lit(1)).as("n_item"))
      val pair = b.as("a")
        .join(b.as("c"),
          col("a.user_id") === col("c.user_id") &&
            col("a.event_type") < col("c.event_type"))
        .groupBy(
          col("a.event_type").as("antecedent"),
          col("c.event_type").as("consequent"))
        .agg(count(lit(1)).as("n_pair"))
      pair
        .join(broadcast(item.toDF("antecedent", "n_a")), "antecedent")
        .join(broadcast(item.toDF("consequent", "n_c")), "consequent")
        .crossJoin(broadcast(nb))
        .select(
          col("antecedent"), col("consequent"), col("n_pair"),
          stableRound(col("n_pair").cast("double") / col("n_baskets"), 6)
            .as("support"),
          stableRound(col("n_pair").cast("double") / col("n_a"), 6)
            .as("confidence"),
          stableRound(
            col("n_pair").cast("double") * col("n_baskets") /
              (col("n_a").cast("double") * col("n_c")), 6).as("lift"))
        .orderBy("antecedent", "consequent")
    },

    // T6: Pareto skyline of customers on (total spend, order count) — the
    // non-dominated set, WITHOUT the quadratic dominance self-join: reduce
    // to the best order-count per distinct spend, then test "beaten by any
    // strictly-higher spend" in two scalable pieces — a window PARTITIONED
    // by a coarse spend bucket (within-bucket suffix max; RANGE 1 FOLLOWING
    // = strictly higher spend in integer cents) plus a broadcast of the
    // tiny per-bucket suffix-max table (cross-bucket competitors). No
    // global single-partition window touches data-scale rows.
    "t6_pareto_skyline" -> { (s, d) =>
      val per = Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(
          sum(round(col("o_totalprice") * 100).cast("long")).as("spend_cents"),
          count(lit(1)).as("n_orders"))
      val pairCnt = per.groupBy("spend_cents", "n_orders")
        .agg(count(lit(1)).as("n_customers"))
      val best = per.groupBy("spend_cents")
        .agg(max(col("n_orders")).as("n_orders"))
        .withColumn("bkt", (col("spend_cents") / lit(1048576L)).cast("long"))
      // within-bucket: rows with strictly higher spend in MY bucket
      val wIn = Window.partitionBy("bkt").orderBy("spend_cents")
        .rangeBetween(1L, Window.unboundedFollowing)
      // cross-bucket: suffix max over the tiny per-bucket aggregate frame
      val bktMax = best.groupBy("bkt").agg(max(col("n_orders")).as("bmax"))
      val wBkt = Window.orderBy("bkt")
        .rangeBetween(1L, Window.unboundedFollowing)
      val hi = bktMax.withColumn("m_hi", max(col("bmax")).over(wBkt))
        .select("bkt", "m_hi")
      best
        .withColumn("m_in", max(col("n_orders")).over(wIn))
        .join(broadcast(hi), Seq("bkt"))
        .where(col("n_orders") > coalesce(greatest(col("m_in"), col("m_hi")),
          col("m_in"), col("m_hi"), lit(Long.MinValue)))
        .join(pairCnt, Seq("spend_cents", "n_orders"))
        .select("spend_cents", "n_orders", "n_customers")
        .orderBy("spend_cents")
    },

    // TS5: day-of-week seasonal index — avg daily revenue of each DOW over
    // the overall daily average (the multiplicative factor that
    // deseasonalizes a daily series). Integer-cent daily totals roll up to
    // 7 DOW rows; the overall average attaches as a 1-row broadcast.
    "ts5_seasonal_index" -> { (s, d) =>
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("day_cents"))
        .select(
          (dayofweek(col("day")) - 1).cast("long").as("dow_duck"),
          col("day_cents"))
      val byDow = daily.groupBy("dow_duck")
        .agg(count(lit(1)).as("n_days"), sum(col("day_cents")).as("dow_cents"))
      val total = byDow.agg(
        sum(col("n_days")).as("all_days"), sum(col("dow_cents")).as("all_cents"))
      byDow.crossJoin(broadcast(total))
        .select(
          col("dow_duck"), col("n_days"), col("dow_cents"),
          stableRound(
            (col("dow_cents").cast("double") * col("all_days")) /
              (col("n_days").cast("double") * col("all_cents")), 6)
            .as("seasonal_index"))
        .orderBy("dow_duck")
    },

    // QC-FD: functional-dependency violation audit (the FD-discovery
    // primitive behind schema normalization and key inference, Papenbrock's
    // profiling family). For each candidate FD X→Y: group by X, count keys
    // where Y has >1 distinct value. Three candidates probe the three
    // outcomes: a true key FD (holds), a quasi-identifier FD (violated),
    // and a fact-to-attribute FD (violated heavily). Per-FD hash-agg +
    // re-agg — mergeable at any scale.
    "qc_fd_violations" -> { (s, d) =>
      def fd(name: String,
             grouped: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
        grouped.agg(
          count(lit(1)).as("n_keys"),
          sum(when(col("nv") > 1, 1L).otherwise(0L)).as("n_violating_keys"),
          sum(when(col("nv") > 1, col("nr")).otherwise(0L)).as("n_rows_violating"),
          max(col("nv")).as("max_variants"))
          .select(lit(name).as("fd"), col("n_keys"), col("n_violating_keys"),
            col("n_rows_violating"), col("max_variants"))
      val docs = Tables.documents(s, d)
      val f1 = fd("1_doc_id->source",
        docs.groupBy("doc_id")
          .agg(countDistinct(col("source")).as("nv"), count(lit(1)).as("nr"))
          .groupBy())
      val f2 = fd("2_lang,len_bucket->source",
        docs.groupBy(col("lang"), floor(col("n_chars") / lit(100.0)).cast("long"))
          .agg(countDistinct(col("source")).as("nv"), count(lit(1)).as("nr"))
          .groupBy())
      val f3 = fd("3_custkey->orderpriority",
        Tables.orders(s, d).groupBy("o_custkey")
          .agg(countDistinct(col("o_orderpriority")).as("nv"), count(lit(1)).as("nr"))
          .groupBy())
      f1.unionAll(f2).unionAll(f3).orderBy("fd")
    },

    // S20: run-length probe — the ordered twin of s19's NDV chooser: would
    // RLE pay off for l_returnflag if files were laid out in
    // (shipdate, orderkey, linenumber) order? Runs are counted per month
    // partition (the file/row-group boundary a writer actually sees), so
    // the window is partitioned — never a global total order. The value
    // column itself closes the sort key: the testdata carries duplicate
    // (orderkey, linenumber) rows, and without a TOTAL order the run count
    // is tie-dependent.
    "s20_rle_probe" -> { (s, d) =>

      val w = Window.partitionBy("mon")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_returnflag")
      Tables.lineitem(s, d)
        .select(date_trunc("month", col("l_shipdate")).as("mon"),
          col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"))
        .withColumn("chg",
          when(lag(col("l_returnflag"), 1).over(w).isNull ||
            lag(col("l_returnflag"), 1).over(w) =!= col("l_returnflag"), 1L)
            .otherwise(0L))
        .groupBy("mon")
        .agg(count(lit(1)).as("n_rows"), sum(col("chg")).as("n_runs"))
        .select(col("mon"), col("n_rows"), col("n_runs"),
          stableRound(col("n_rows").cast("double") / col("n_runs"), 4)
            .as("avg_run_len"))
        .orderBy("mon")
    },

    // TS6: CUSUM change-point — the day where cumulative deviation from
    // the per-priority mean peaks. With integer-cent daily totals the
    // statistic D·prefix(t) − t·T (D days, T total) is EXACT int64 — no
    // running-mean floats — so the argmax day is bit-stable. (Beyond
    // ~2^63/D total cents the scaled statistic needs DECIMAL(38,0); the
    // shape is unchanged.) Windows partition by priority; ties break to
    // the earliest day, mirrored in the oracle's rank order.
    "ts6_cusum_changepoint" -> { (s, d) =>

      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("prio"),
          to_date(col("o_orderdate")).as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val wOrd = Window.partitionBy("prio").orderBy("day")
      val wAll = Window.partitionBy("prio")
      val scored = daily
        .withColumn("t_idx", row_number().over(wOrd))
        .withColumn("prefix", sum(col("cents")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n_days", count(lit(1)).over(wAll))
        .withColumn("total", sum(col("cents")).over(wAll))
        .withColumn("cusum", col("n_days") * col("prefix") - col("t_idx") * col("total"))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy("prio").orderBy(abs(col("cusum")).desc, col("day"))))
        .filter(col("rn") === 1)
        .select(col("prio"), col("n_days"), col("day").as("cp_day"),
          abs(col("cusum")).as("max_abs_cusum"),
          when(col("cusum") > 0, lit("above_mean_first"))
            .otherwise(lit("below_mean_first")).as("regime"))
        .orderBy("prio")
    },

    // S21: join-cardinality estimation by COORDINATED key sampling — the
    // CBO input for join planning at 100 TB, where exact |A⋈B| is itself a
    // full join. Both sides keep a key iff md5(key) lands in the same
    // 1/16 slice of hash space (correlated sampling: a key is in or out
    // on BOTH sides together), so |A_s ⋈ B_s| × 16 is unbiased for the
    // key-partitioned join size. The true count rides alongside — the
    // gate shows the estimator's actual error per group.
    "s21_join_card_sample" -> { (s, d) =>
      val o = Tables.orders(s, d).select(col("o_custkey"), col("o_orderpriority"))
      val c = Tables.customer(s, d).select(col("c_custkey"))
      val truth = o.join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("true_pairs"))
      val keep = (k: Column) =>
        substring(md5(k.cast("string")), 1, 1) === "0"
      val est = o.filter(keep(col("o_custkey")))
        .join(c.filter(keep(col("c_custkey"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("sampled_pairs"))
      truth.join(est, Seq("o_orderpriority"), "left")
        .select(
          col("o_orderpriority"), col("true_pairs"),
          coalesce(col("sampled_pairs"), lit(0L)).as("sampled_pairs"),
          (coalesce(col("sampled_pairs"), lit(0L)) * 16).as("est_pairs"),
          stableRound(
            (coalesce(col("sampled_pairs"), lit(0L)) * 16).cast("double") /
              col("true_pairs"), 4).as("est_over_true"))
        .orderBy("o_orderpriority")
    },

    // EMB3: label-separation audit WITHOUT the quadratic pair scan — the
    // centroid identity Σ_{i,j∈L}⟨xi,xj⟩ = ‖Σ_{i∈L}xi‖² turns all-pairs
    // mean inner products (intra- and inter-label) into per-label
    // coordinate SUMS: one linear pass, exact int64/decimal integer
    // arithmetic on emb1-scaled coordinates, then a constant-time closing
    // formula. This is the "are my labels actually separated in embedding
    // space" check run before training a classifier head — at 25M vectors
    // the naive pair scan is 6·10¹⁴ ops; this is one groupBy.
    "emb3_label_separation" -> { (s, d) =>
      val iv = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .withColumn("iv", floor(col("v").cast("double") * 1e6 + 0.5).cast("long"))
      // per-(label, dim) coordinate sums + per-label self-dot sum
      val byLd = iv.groupBy("label", "dim")
        .agg(sum(col("iv")).as("sdim"),
          sum((col("iv") * col("iv")).cast("decimal(38,0)")).as("ssq"))
      val byDim = byLd.groupBy("dim").agg(sum(col("sdim")).as("alldim"))
      val nPer = Tables.embeddings(s, d).groupBy("label")
        .agg(count(lit(1)).as("n_vecs"))
      val nAll = Tables.embeddings(s, d).agg(count(lit(1)).as("n_total"))
      // sdim grows LINEARLY with corpus size (unlike per-row products), so
      // it must widen to decimal BEFORE squaring: at ~5k vectors per label
      // sdim² already exceeds int64 and would wrap silently.
      val sdimD = col("sdim").cast("decimal(38,0)")
      val perLabel = byLd.join(broadcast(byDim), "dim")
        .groupBy("label")
        .agg(
          sum(sdimD * col("sdim")).as("s2"),
          sum(sdimD * (col("alldim") - col("sdim"))).as("cross"),
          sum(col("ssq")).as("selfdot"))
      perLabel.join(broadcast(nPer), "label").crossJoin(broadcast(nAll))
        .select(
          col("label"), col("n_vecs"),
          stableRound(
            (col("s2").cast("double") - col("selfdot").cast("double")) /
              (col("n_vecs").cast("double") * (col("n_vecs") - 1)) / 1e12, 6)
            .as("avg_intra_dot"),
          stableRound(
            col("cross").cast("double") /
              (col("n_vecs").cast("double") * (col("n_total") - col("n_vecs"))) / 1e12, 6)
            .as("avg_inter_dot"))
        .orderBy("label")
    },

    // DD24: CROSS-MODAL dedup verification — the text modality proposes
    // (dd16's prefix-filtered Jaccard pairs over documents), the embedding
    // modality confirms (integer-scaled inner product between the SAME
    // ids' vectors). A pair that is near-dup in both spaces is template
    // duplication; text-only pairs are paraphrase-level and often kept.
    // The embedding side attaches by broadcast on the bounded candidate
    // stream — no second pair generation — and the dot products are exact
    // int64 (emb1 scaling), so the verdict is bit-stable.
    "dd24_cross_modal_verify" -> { (s, d) =>
      val cutoff = 200000000000L // dot6 ≥ 0.2·1e12 ≈ same-template affinity
      val pairs = CurationOps.jaccardPairs(s, d)
        .select(col("doc_a"), col("doc_b"),
          stableRound(col("jaccard"), 6).as("jaccard"))
      // semi-join embeddings down to the ids the candidate stream actually
      // touches BEFORE broadcasting — the broadcast is candidate-bounded,
      // not corpus-sized (the full iv table at web scale is tens of GB).
      val candIds = pairs.select(col("doc_a").as("vec_id"))
        .unionAll(pairs.select(col("doc_b").as("vec_id"))).distinct()
      val iv = Tables.embeddings(s, d)
        .join(candIds, Seq("vec_id"), "left_semi")
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT))")
            .as("iv"))
      pairs
        .join(broadcast(iv.select(col("vec_id").as("doc_a"), col("iv").as("iv_a"))),
          Seq("doc_a"))
        .join(broadcast(iv.select(col("vec_id").as("doc_b"), col("iv").as("iv_b"))),
          Seq("doc_b"))
        .withColumn("dot6",
          expr("aggregate(zip_with(iv_a, iv_b, (a, b) -> a * b), 0L, (acc, x) -> acc + x)"))
        .select(col("doc_a"), col("doc_b"), col("jaccard"), col("dot6"),
          (col("dot6") >= cutoff).as("embedding_confirms"))
        .orderBy("doc_a", "doc_b")
    },

    // QC-LB: label-balance audit — Gini impurity 1 − Σpᵢ² of the label
    // distribution, from EXACT integer moments (Σnᵢ² in int64, one closing
    // division) so no order-dependent double sum reaches the gate. The
    // "is my classification corpus skewed" check run before training.
    "qc_label_balance" -> { (s, d) =>
      val per = Tables.embeddings(s, d)
        .groupBy("label").agg(count(lit(1)).as("n"))
      per.agg(
        count(lit(1)).as("n_labels"),
        sum(col("n")).as("n_total"),
        sum(col("n") * col("n")).as("sum_sq"),
        max(col("n")).as("max_n"))
        .select(
          col("n_labels"), col("n_total"),
          stableRound(lit(1.0) -
            col("sum_sq").cast("double") /
              (col("n_total").cast("double") * col("n_total")), 6)
            .as("gini_impurity"),
          stableRound(col("max_n").cast("double") / col("n_total"), 6)
            .as("max_share"))
    },

    // F25: hourly activity bitmap — per-user 24-bit mask built by the
    // mergeable bit_or aggregate (the bitmap-index build primitive), then a
    // popcount census: how many users are active in exactly h distinct
    // hours, under how many distinct activity patterns. Pure integer ops,
    // two hash-aggs.
    "f25_hour_bitmap" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy("user_id")
        .agg(
          expr("bit_or(shiftleft(1L, hour(ts)))").as("mask"),
          count(lit(1)).as("n_ev"))
        .groupBy(expr("CAST(bit_count(mask) AS BIGINT)").as("active_hours"))
        .agg(
          count(lit(1)).as("n_users"),
          countDistinct(col("mask")).as("n_patterns"),
          sum(col("n_ev")).as("total_events"))
        .orderBy("active_hours")
    })

  val oracles: Map[String, String] = Map(
    "qc_expectation_suite" ->
      """WITH base AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN l_shipdate IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ok_notnull,
                  CAST(SUM(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1 ELSE 0 END) AS BIGINT) AS ok_range,
                  CAST(COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS n_distinct,
                  CAST(SUM(CASE WHEN l_returnflag IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS BIGINT) AS ok_accept,
                  CAST(SUM(CASE WHEN l_extendedprice > 0 THEN 1 ELSE 0 END) AS BIGINT) AS ok_pos
           FROM lineitem),
         ref AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS ok_ref
           FROM lineitem l WHERE EXISTS
             (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)),
         rules AS (
           SELECT CAST(1 AS BIGINT) AS rule_id, 'not_null:l_shipdate' AS expectation,
                  n AS n_checked, ok_notnull AS n_ok FROM base
           UNION ALL
           SELECT 2, 'range:l_quantity[1,50]', n, ok_range FROM base
           UNION ALL
           SELECT 3, 'unique:(l_orderkey,l_linenumber)', n, n_distinct FROM base
           UNION ALL
           SELECT 4, 'accepted_values:l_returnflag{A,N,R}', n, ok_accept FROM base
           UNION ALL
           SELECT 5, 'positive:l_extendedprice', n, ok_pos FROM base
           UNION ALL
           SELECT 6, 'referential:l_partkey->part', b.n, r.ok_ref
           FROM base b CROSS JOIN ref r)
         SELECT rule_id, expectation, n_checked, n_ok,
                ROUND(1e-9 + CAST(n_ok AS DOUBLE) / n_checked, 6) + 0.0 AS measured,
                n_ok = n_checked AS passed
         FROM rules ORDER BY rule_id""",

    "qc_datacard" ->
      """WITH toks AS (SELECT doc_id, source,
                              UNNEST(string_split(text, ' ')) AS tok
                       FROM documents),
          w AS (SELECT doc_id, source,
                       (1103515245 * (('0x' || substr(md5(tok), 1, 7))::BIGINT % 1024)
                        + 12345) % 2147483648 % 2001 - 1000 AS w
                FROM toks),
          per_doc AS (SELECT doc_id, source, COUNT(*) AS n_toks,
                             SUM(w) AS wsum
                      FROM w GROUP BY 1, 2),
          tok_side AS (SELECT source,
                              CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
                              CAST(SUM(CASE WHEN wsum > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
                       FROM per_doc GROUP BY 1),
          doc_side AS (SELECT source, COUNT(*) AS n_docs,
                              CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
                              CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                              COUNT(DISTINCT md5(text)) AS n_distinct_texts
                       FROM documents GROUP BY 1)
          SELECT d.source, d.n_docs, t.total_tokens, d.total_chars, d.n_langs,
                 ROUND(1e-9 + CAST(t.n_keep AS DOUBLE) / d.n_docs, 6) AS keep_rate,
                 ROUND(1e-9 + 1.0 - CAST(d.n_distinct_texts AS DOUBLE) / d.n_docs, 6)
                   AS exact_dup_rate
          FROM doc_side d JOIN tok_side t ON t.source = d.source
          ORDER BY d.source""",

    "qc_kanonymity" ->
      s"""WITH g AS (
            SELECT lang, source,
                   CAST(FLOOR(n_chars / 100.0) AS BIGINT) AS len_bucket,
                   COUNT(*) AS n
            FROM documents GROUP BY 1, 2, 3)
          SELECT lang,
                 CAST(COUNT(*) AS BIGINT) AS n_groups,
                 CAST(SUM(CASE WHEN n < $k THEN 1 ELSE 0 END) AS BIGINT) AS risk_groups,
                 CAST(SUM(CASE WHEN n < $k THEN n ELSE 0 END) AS BIGINT) AS risk_docs,
                 CAST(SUM(n) AS BIGINT) AS n_docs,
                 ROUND(1e-9 + SUM(CASE WHEN n < $k THEN n ELSE 0 END) * 1.0 / SUM(n), 6) + 0.0
                   AS suppression_rate
          FROM g GROUP BY lang ORDER BY lang""",

    "s19_encoding_plan" ->
      """WITH a AS (
           SELECT COUNT(*) AS n_rows,
                  COUNT(DISTINCT l_returnflag) AS d_returnflag,
                  COUNT(DISTINCT l_linestatus) AS d_linestatus,
                  COUNT(DISTINCT l_partkey)    AS d_partkey,
                  COUNT(DISTINCT l_suppkey)    AS d_suppkey,
                  COUNT(DISTINCT l_quantity)   AS d_quantity,
                  COUNT(DISTINCT l_shipdate)   AS d_shipdate
           FROM lineitem),
         u AS (
           SELECT 'l_returnflag' AS column_name, d_returnflag AS n_distinct, n_rows FROM a
           UNION ALL SELECT 'l_linestatus', d_linestatus, n_rows FROM a
           UNION ALL SELECT 'l_partkey',    d_partkey,    n_rows FROM a
           UNION ALL SELECT 'l_suppkey',    d_suppkey,    n_rows FROM a
           UNION ALL SELECT 'l_quantity',   d_quantity,   n_rows FROM a
           UNION ALL SELECT 'l_shipdate',   d_shipdate,   n_rows FROM a)
         SELECT column_name,
                CAST(n_rows AS BIGINT) AS n_rows,
                CAST(n_distinct AS BIGINT) AS n_distinct,
                CAST(LENGTH(bin(CAST(n_distinct - 1 AS BIGINT))) AS BIGINT) AS code_bits,
                CASE WHEN n_distinct * 10 <= n_rows THEN 'dictionary' ELSE 'plain' END AS encoding
         FROM u ORDER BY column_name""",

    "f24_assoc_rules" ->
      """WITH b AS (SELECT DISTINCT user_id, event_type FROM events),
           n AS (SELECT COUNT(DISTINCT user_id) AS n_baskets FROM b),
           item AS (SELECT event_type, COUNT(*) AS n_item FROM b GROUP BY 1),
           pair AS (
             SELECT a.event_type AS antecedent, c.event_type AS consequent,
                    COUNT(*) AS n_pair
             FROM b a JOIN b c
               ON a.user_id = c.user_id AND a.event_type < c.event_type
             GROUP BY 1, 2)
         SELECT antecedent, consequent,
                CAST(n_pair AS BIGINT) AS n_pair,
                ROUND(1e-9 + n_pair * 1.0 / n.n_baskets, 6) + 0.0 AS support,
                ROUND(1e-9 + n_pair * 1.0 / ia.n_item, 6) + 0.0 AS confidence,
                ROUND(1e-9 + (n_pair * 1.0 * n.n_baskets) / (ia.n_item * 1.0 * ic.n_item), 6) + 0.0 AS lift
         FROM pair
         JOIN item ia ON pair.antecedent = ia.event_type
         JOIN item ic ON pair.consequent = ic.event_type
         CROSS JOIN n
         ORDER BY antecedent, consequent""",

    "t6_pareto_skyline" ->
      """WITH per AS (
           SELECT o_custkey,
                  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_cents,
                  CAST(COUNT(*) AS BIGINT) AS n_orders
           FROM orders GROUP BY 1),
         best AS (SELECT spend_cents, MAX(n_orders) AS n_orders FROM per GROUP BY 1),
         sky AS (
           SELECT spend_cents, n_orders,
                  MAX(n_orders) OVER (ORDER BY spend_cents
                    RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS m
           FROM best),
         cnt AS (SELECT spend_cents, n_orders, COUNT(*) AS n_customers
                 FROM per GROUP BY 1, 2)
         SELECT s.spend_cents, s.n_orders,
                CAST(c.n_customers AS BIGINT) AS n_customers
         FROM sky s
         JOIN cnt c ON s.spend_cents = c.spend_cents AND s.n_orders = c.n_orders
         WHERE s.m IS NULL OR s.n_orders > s.m
         ORDER BY s.spend_cents""",

    "ts5_seasonal_index" ->
      """WITH daily AS (
           SELECT CAST(o_orderdate AS DATE) AS day,
                  SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS day_cents
           FROM orders GROUP BY 1),
         dow AS (
           SELECT CAST(EXTRACT(DOW FROM day) AS BIGINT) AS dow_duck,
                  CAST(COUNT(*) AS BIGINT) AS n_days,
                  CAST(SUM(day_cents) AS BIGINT) AS dow_cents
           FROM daily GROUP BY 1),
         tot AS (SELECT CAST(SUM(n_days) AS BIGINT) AS all_days,
                        CAST(SUM(dow_cents) AS BIGINT) AS all_cents FROM dow)
         SELECT dow_duck, n_days, dow_cents,
                ROUND(1e-9 + (dow_cents * 1.0 * all_days) / (n_days * 1.0 * all_cents), 6) + 0.0
                  AS seasonal_index
         FROM dow CROSS JOIN tot ORDER BY dow_duck""",

    "qc_fd_violations" ->
      """WITH f1 AS (
           SELECT doc_id, COUNT(DISTINCT source) AS nv, COUNT(*) AS nr
           FROM documents GROUP BY 1),
         f2 AS (
           SELECT lang, CAST(FLOOR(n_chars / 100.0) AS BIGINT) AS lb,
                  COUNT(DISTINCT source) AS nv, COUNT(*) AS nr
           FROM documents GROUP BY 1, 2),
         f3 AS (
           SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS nv, COUNT(*) AS nr
           FROM orders GROUP BY 1),
         u AS (
           SELECT '1_doc_id->source' AS fd,
                  CAST(COUNT(*) AS BIGINT) AS n_keys,
                  CAST(SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_keys,
                  CAST(SUM(CASE WHEN nv > 1 THEN nr ELSE 0 END) AS BIGINT) AS n_rows_violating,
                  CAST(MAX(nv) AS BIGINT) AS max_variants
           FROM f1
           UNION ALL
           SELECT '2_lang,len_bucket->source',
                  CAST(COUNT(*) AS BIGINT),
                  CAST(SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(SUM(CASE WHEN nv > 1 THEN nr ELSE 0 END) AS BIGINT),
                  CAST(MAX(nv) AS BIGINT)
           FROM f2
           UNION ALL
           SELECT '3_custkey->orderpriority',
                  CAST(COUNT(*) AS BIGINT),
                  CAST(SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(SUM(CASE WHEN nv > 1 THEN nr ELSE 0 END) AS BIGINT),
                  CAST(MAX(nv) AS BIGINT)
           FROM f3)
         SELECT * FROM u ORDER BY fd""",

    "s20_rle_probe" ->
      """WITH t AS (
           SELECT date_trunc('month', CAST(l_shipdate AS TIMESTAMP)) AS mon,
                  l_shipdate, l_orderkey, l_linenumber, l_returnflag,
                  LAG(l_returnflag) OVER (
                    PARTITION BY date_trunc('month', CAST(l_shipdate AS TIMESTAMP))
                    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_returnflag) AS prev
           FROM lineitem)
         SELECT CAST(mon AS TIMESTAMP) AS mon,
                CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(SUM(CASE WHEN prev IS NULL OR prev <> l_returnflag
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_runs,
                ROUND(1e-9 + COUNT(*) * 1.0 /
                  SUM(CASE WHEN prev IS NULL OR prev <> l_returnflag
                           THEN 1 ELSE 0 END), 4) + 0.0 AS avg_run_len
         FROM t GROUP BY 1 ORDER BY 1""",

    "ts6_cusum_changepoint" ->
      """WITH daily AS (
           SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS day,
                  SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
           FROM orders GROUP BY 1, 2),
         scored AS (
           SELECT prio, day, cents,
                  ROW_NUMBER() OVER (PARTITION BY prio ORDER BY day) AS t_idx,
                  SUM(cents) OVER (PARTITION BY prio ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix,
                  COUNT(*) OVER (PARTITION BY prio) AS n_days,
                  SUM(cents) OVER (PARTITION BY prio) AS total
           FROM daily),
         cu AS (
           SELECT prio, day, CAST(n_days AS BIGINT) AS n_days,
                  n_days * prefix - t_idx * total AS cusum,
                  ROW_NUMBER() OVER (PARTITION BY prio
                    ORDER BY ABS(n_days * prefix - t_idx * total) DESC, day) AS rn
           FROM scored)
         SELECT prio, n_days, day AS cp_day,
                CAST(ABS(cusum) AS BIGINT) AS max_abs_cusum,
                CASE WHEN cusum > 0 THEN 'above_mean_first'
                     ELSE 'below_mean_first' END AS regime
         FROM cu WHERE rn = 1 ORDER BY prio""",

    "s21_join_card_sample" ->
      """WITH truth AS (
           SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS true_pairs
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1),
         os AS (SELECT o_custkey, o_orderpriority FROM orders
                WHERE substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1) = '0'),
         cs AS (SELECT c_custkey FROM customer
                WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) = '0'),
         est AS (
           SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS sampled_pairs
           FROM os JOIN cs ON o_custkey = c_custkey
           GROUP BY 1)
         SELECT t.o_orderpriority, t.true_pairs,
                CAST(COALESCE(e.sampled_pairs, 0) AS BIGINT) AS sampled_pairs,
                CAST(COALESCE(e.sampled_pairs, 0) * 16 AS BIGINT) AS est_pairs,
                ROUND(1e-9 + CAST(COALESCE(e.sampled_pairs, 0) * 16 AS DOUBLE)
                  / t.true_pairs, 4) + 0.0 AS est_over_true
         FROM truth t LEFT JOIN est e ON t.o_orderpriority = e.o_orderpriority
         ORDER BY t.o_orderpriority""",

    "emb3_label_separation" ->
      """WITH iv AS (
           SELECT vec_id, label, i - 1 AS dim,
                  CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS iv
           FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)),
         byld AS (
           SELECT label, dim,
                  CAST(SUM(iv) AS BIGINT) AS sdim,
                  SUM(CAST(iv * iv AS DECIMAL(38,0))) AS ssq
           FROM iv GROUP BY 1, 2),
         bydim AS (SELECT dim, CAST(SUM(sdim) AS BIGINT) AS alldim
                   FROM byld GROUP BY 1),
         nper AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs
                  FROM embeddings GROUP BY 1),
         nall AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM embeddings),
         per AS (
           SELECT b.label,
                  SUM(CAST(b.sdim AS DECIMAL(38,0)) * b.sdim) AS s2,
                  SUM(CAST(b.sdim AS DECIMAL(38,0)) * (d.alldim - b.sdim)) AS cross_dot,
                  SUM(b.ssq) AS selfdot
           FROM byld b JOIN bydim d ON b.dim = d.dim
           GROUP BY 1)
         SELECT p.label, n.n_vecs,
                ROUND(1e-9 + (CAST(p.s2 AS DOUBLE) - CAST(p.selfdot AS DOUBLE))
                  / (CAST(n.n_vecs AS DOUBLE) * (n.n_vecs - 1)) / 1e12, 6) + 0.0
                  AS avg_intra_dot,
                ROUND(1e-9 + CAST(p.cross_dot AS DOUBLE)
                  / (CAST(n.n_vecs AS DOUBLE) * (a.n_total - n.n_vecs)) / 1e12, 6) + 0.0
                  AS avg_inter_dot
         FROM per p JOIN nper n ON p.label = n.label CROSS JOIN nall a
         ORDER BY p.label""",

    "dd24_cross_modal_verify" ->
      s"""WITH ${graft.ops.DedupOps.duckShingles},
          counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
          inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
          pairs AS (
            SELECT doc_a, doc_b,
                   CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) AS jaccard
            FROM inter
            JOIN counts ca ON ca.doc_id = doc_a
            JOIN counts cb ON cb.doc_id = doc_b
            WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= 0.5),
          iv AS (
            SELECT vec_id, i - 1 AS dim,
                   CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS iv
            FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)),
          dots AS (
            SELECT p.doc_a, p.doc_b, p.jaccard,
                   CAST(SUM(a.iv * b.iv) AS BIGINT) AS dot6
            FROM pairs p
            JOIN iv a ON a.vec_id = p.doc_a
            JOIN iv b ON b.vec_id = p.doc_b AND b.dim = a.dim
            GROUP BY 1, 2, 3)
          SELECT doc_a, doc_b,
                 ROUND(1e-9 + jaccard, 6) + 0.0 AS jaccard, dot6,
                 dot6 >= 200000000000 AS embedding_confirms
          FROM dots ORDER BY doc_a, doc_b""",

    "qc_label_balance" ->
      """WITH per AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n
                      FROM embeddings GROUP BY 1)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_labels,
                CAST(SUM(n) AS BIGINT) AS n_total,
                ROUND(1e-9 + 1.0 - CAST(SUM(n * n) AS DOUBLE)
                  / (CAST(SUM(n) AS DOUBLE) * SUM(n)), 6) + 0.0 AS gini_impurity,
                ROUND(1e-9 + CAST(MAX(n) AS DOUBLE) / SUM(n), 6) + 0.0 AS max_share
         FROM per""",

    "f25_hour_bitmap" ->
      """WITH e AS (SELECT user_id, hour(CAST(ts AS TIMESTAMP)) AS h FROM events),
           m AS (SELECT user_id,
                        bit_or(CAST(1 AS BIGINT) << h) AS mask,
                        COUNT(*) AS n_ev
                 FROM e GROUP BY 1)
         SELECT CAST(bit_count(mask) AS BIGINT) AS active_hours,
                CAST(COUNT(*) AS BIGINT) AS n_users,
                CAST(COUNT(DISTINCT mask) AS BIGINT) AS n_patterns,
                CAST(SUM(n_ev) AS BIGINT) AS total_events
         FROM m GROUP BY 1 ORDER BY 1""")
}
