package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftExtensions, Tables}
import graft.functions.Exact.stableRound

/** Round-8 relevance & robustness pack — the retrieval/curation operators a
  * training-data platform layers on once dedup, sampling, and quality
  * scoring are in place:
  *
  *  - ir1: BM25-style lexical retrieval (the query side of tx21's inverted
  *    index — "find the docs most about X" for targeted corpus audits),
  *  - g6: common-neighbor link prediction over the near-dup graph (edges
  *    the LSH/prefix candidate generation likely MISSED — transitive
  *    near-dups to re-verify),
  *  - ts7: Theil–Sen robust trend (the slope estimate that survives the
  *    outlier days OLS — ts4 — is poisoned by),
  *  - sa14: randomized-response label privatization + debiasing (local-DP
  *    release of a sensitive column with an unbiased census estimator),
  *  - emb4: per-dimension z-score standardization audit with an EXACT
  *    integer outlier census (no double comparison at the fence),
  *  - sim10: mutual-kNN graph + label homophily (the graph-based corpus
  *    diversity/quality audit; exact twin of the sim2/sim3 ANN paths).
  *
  * Cross-engine exactness: every aggregate is over integers or
  * deterministically integer-scaled floats (emb1's FLOOR(v·1e6 + 0.5)
  * convention), md5 is the only randomness source (sa1's convention), and
  * closing double chains are written with IDENTICAL association on both
  * engines, so all six are full hash gates.
  *
  * Reference scope: beyond-reference training-data operators (builder
  * brief); the reference pipeline has no retrieval/graph/DP surface.
  */
object RelevanceOps extends graft.QueryFamily {
  /** Fixed audit query — three corpus terms with well-spread document
    * frequencies. A user-supplied query binds here identically. */
  private val QUERY = Seq("hash", "join", "vector")

  /** sa1's salted md5 → 28-bit uniform (DuckDB mirror:
    * ('0x' || substr(md5(...), 1, 7))::BIGINT). */
  private def keyHash(salt: String, key: org.apache.spark.sql.Column) = expr(
    s"CAST(conv(substring(md5(concat('$salt', CAST(${key.toString} AS STRING))), 1, 7), 16, 10) AS BIGINT)")

  /** Frozen lang alphabet for randomized response (sorted, K = 5). */
  private val LANGS = Seq("de", "en", "es", "fr", "zh")

  /** Mutual-kNN edge list (directed, both orientations of every
    * reciprocated 5-NN edge), memoized per (session, dataset) like the
    * DedupOps stage caches: the exact all-pairs dot stage is the expensive
    * input shared by sim10 (homophily census) and g6 (link prediction) —
    * one staged output, not one per consumer. Exact twin of the sim2/sim3
    * bucketed ANN paths (dd4→dd16 convention): audit-scale only. */
  private val mutualKnnCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Directed all-pairs exact-integer dot table with PREFIX dots at 8/16/
    * 32/64 dims, memoized per (session, dataset): the one expensive pass
    * every exact retrieval audit shares (sim10's 5-NN graph, emb5's
    * truncation eval). The prefix dots are sub-sums of the full dot's
    * work, so carrying all four costs nothing extra. */
  private val dotsCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private[graft] def directedDots(s: SparkSession, d: String): DataFrame =
    dotsCache.computeIfAbsent((s, d), { _ =>
      // Codegen'd primitive dot loop, NOT aggregate(zip_with(slice...)):
      // the higher-order form evaluates interpreted and allocates two
      // slice arrays per row — see LongDotPrefix's scaladoc.
      GraftExtensions.register(s)
      val arrs = Tables.embeddings(s, d)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT))")
            .as("iv"))
      val lhs = arrs.select(col("vec_id").as("ida"), col("iv").as("iva"))
      val rhs = arrs.select(col("vec_id").as("idb"), col("iv").as("ivb"))
      def prefixDot(p: Int) = expr(s"long_dot_prefix(iva, ivb, $p)")
      val pairs = lhs.crossJoin(rhs).filter(col("ida") < col("idb"))
        .select(Seq(col("ida"), col("idb")) ++
          Seq(8, 16, 32, 64).map(p => prefixDot(p).as(s"d$p")): _*)
      // localCheckpoint, not persist: every ranking window re-plans
      // against this stage, and a nested InMemoryRelation lineage costs
      // AQE replanning per job (g3's 6.7 s -> 0.2 s lesson; see
      // GraphOps.adjacency). A checkpointed table is a plain scan.
      pairs.select(col("ida").as("src"), col("idb").as("dst"),
          col("d8"), col("d16"), col("d32"), col("d64"))
        .unionAll(pairs.select(col("idb").as("src"), col("ida").as("dst"),
          col("d8"), col("d16"), col("d32"), col("d64")))
        .localCheckpoint()
    })

  /** Directed 5-NN of the `dcol` ranking over the memoized dot table —
    * via the native heap-based TopKPerGroup operator (w7's machinery):
    * bounded O(n log k) per partition, shuffle of survivors only, instead
    * of a full per-src window sort of the all-pairs table per ranking
    * (emb5 runs FOUR rankings; the window form benched 2.8 s vs 1.4 s). */
  private def top5(s: SparkSession, d: String, dcol: String): DataFrame =
    graft.plans.TopK.perGroup(
      directedDots(s, d).select(col("src"), col("dst"), col(dcol)),
      k = 5,
      groupCols = Seq("src"),
      orderBy = Seq(dcol -> false, "dst" -> true))
      .select("src", "dst")

  private[graft] def mutualKnn(s: SparkSession, d: String): DataFrame =
    mutualKnnCache.computeIfAbsent((s, d), { _ =>
      val knn = top5(s, d, "d64")
      knn.as("x").join(knn.as("y"),
          col("x.src") === col("y.dst") && col("x.dst") === col("y.src"))
        .select(col("x.src").as("src"), col("x.dst").as("dst"))
        .localCheckpoint()
    })

  val queries: Map[String, Q] = Map(
    // IR1: BM25 top-k retrieval. Document-at-a-time scoring: one corpus
    // scan computes per-doc term frequencies as codegen'd array filters,
    // the corpus statistics (N, Σdl, per-term df) are ONE 1-row aggregate
    // attached by broadcast, and the cut is TakeOrderedAndProject — no
    // shuffle touches corpus-sized data. At index scale the same scoring
    // expression rides tx21's inverted index (term-at-a-time); this is
    // the scan-side form used for ad-hoc corpus audits.
    // Cross-engine: idf uses the RATIONAL Robertson core
    // (N - df + 0.5)/(df + 0.5) UNLOGGED — the repo bans libm ln in
    // hash-gated columns (see qc_drift_chi2's scaladoc); per-term
    // monotonicity is preserved, and the mix weights are explicit. The
    // score chain is the same IEEE expression tree both engines.
    "ir1_bm25_topk" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
        .withColumn("dl", size(col("ts")).cast("long"))
      val withTf = QUERY.foldLeft(docs) { (df, t) =>
        df.withColumn(s"tf_$t",
          expr(s"CAST(size(filter(ts, x -> x = '$t')) AS LONG)"))
      }
      val stats = withTf.agg(
        count(lit(1)).as("n_docs"),
        (sum(col("dl")).as("sum_dl") +: QUERY.map(t =>
          sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))): _*)
      val scored = withTf.crossJoin(broadcast(stats))
        .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      // Literal discipline: 2.2 / 0.25 are written as the SAME decimal
      // literals the oracle SQL parses (not K1 + 1.0 — a Scala-side double
      // ADD can land a ulp off the parsed literal and shift every score).
      val contribs = QUERY.map { t =>
        val tf = col(s"tf_$t").cast("double")
        val idf = (col("n_docs").cast("double") - col(s"df_$t") + lit(0.5)) /
          (col(s"df_$t").cast("double") + lit(0.5))
        idf * (tf * lit(2.2)) /
          (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
      }
      scored
        .withColumn("score", contribs.reduceLeft(_ + _))
        .filter(QUERY.map(t => col(s"tf_$t")).reduceLeft(_ + _) > 0)
        .select((Seq(col("doc_id"), col("dl")) ++
          QUERY.map(t => col(s"tf_$t")) :+
          stableRound(col("score"), 6).as("bm25_score")): _*)
        .orderBy(col("bm25_score").desc, col("doc_id"))
        .limit(20)
    },

    // IR3: RETRIEVE → RERANK — the two-stage ranking pipeline every
    // production retrieval stack runs: ir1's BM25 top-20 is the cheap
    // recall stage; a second-stage scorer (here a deterministic fusion of
    // term coverage, the rounded BM25 score, and a length prior — the
    // replayable stand-in for a cross-encoder, which would slot in as a
    // batched model-scoring map over the same 20-row frame) reorders the
    // candidates, and the gate emits both ranks, the per-doc movement,
    // and the concordant/discordant pair census (Kendall-tau numerator)
    // quantifying how much stage 2 disagreed with stage 1. All ranking
    // inputs are exact (integer coverage/ranks, 6-dp-rounded scores), so
    // the full pipeline hash-gates. Shape at scale: stage 2 touches only
    // the k-sized candidate frame per query — the expensive model pass
    // is O(k), never corpus-sized; windows partition by query_id.
    "ir3_rerank" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
        .withColumn("dl", size(col("ts")).cast("long"))
      val withTf = QUERY.foldLeft(docs) { (df, t) =>
        df.withColumn(s"tf_$t",
          expr(s"CAST(size(filter(ts, x -> x = '$t')) AS LONG)"))
      }
      val stats = withTf.agg(
        count(lit(1)).as("n_docs"),
        (sum(col("dl")).as("sum_dl") +: QUERY.map(t =>
          sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))): _*)
      val contribs = QUERY.map { t =>
        val tf = col(s"tf_$t").cast("double")
        val idf = (col("n_docs").cast("double") - col(s"df_$t") + lit(0.5)) /
          (col(s"df_$t").cast("double") + lit(0.5))
        idf * (tf * lit(2.2)) /
          (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
      }
      val cand = withTf.crossJoin(broadcast(stats))
        .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
        .withColumn("bm25", stableRound(contribs.reduceLeft(_ + _), 6))
        .filter(QUERY.map(t => col(s"tf_$t")).reduceLeft(_ + _) > 0)
        .orderBy(col("bm25").desc, col("doc_id")).limit(20)
        .withColumn("query_id", lit(0L))
        .withColumn("coverage",
          QUERY.map(t => when(col(s"tf_$t") > 0, 1L).otherwise(0L))
            .reduceLeft(_ + _))
        .withColumn("rr_score",
          lit(2.0) * col("coverage") + lit(0.1) * col("bm25") +
            lit(100.0) / (col("dl").cast("double") + lit(50.0)))
      val wQ = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      val ranked = cand
        .withColumn("bm25_rank",
          row_number().over(wQ.orderBy(col("bm25").desc, col("doc_id"))))
        .withColumn("rerank_rank",
          row_number().over(wQ.orderBy(col("rr_score").desc, col("doc_id"))))
      val a = ranked.select(col("query_id"), col("doc_id").as("id_a"),
        col("bm25_rank").as("ba"), col("rerank_rank").as("ra"))
      val b = ranked.select(col("query_id"), col("doc_id").as("id_b"),
        col("bm25_rank").as("bb"), col("rerank_rank").as("rb"))
      val tau = a.join(b, Seq("query_id")).filter(col("id_a") < col("id_b"))
        .groupBy("query_id")
        .agg(
          sum(when((col("ba") - col("bb")) * (col("ra") - col("rb")) > 0, 1L)
            .otherwise(0L)).as("n_concordant"),
          sum(when((col("ba") - col("bb")) * (col("ra") - col("rb")) < 0, 1L)
            .otherwise(0L)).as("n_discordant"))
      ranked.join(broadcast(tau), Seq("query_id"))
        .select(col("query_id"), col("doc_id"), col("bm25_rank"),
          col("rerank_rank"),
          (col("bm25_rank") - col("rerank_rank")).as("rank_delta"),
          stableRound(col("rr_score"), 6).as("rerank_score"),
          col("n_concordant"), col("n_discordant"))
        .orderBy("rerank_rank")
    },

    // IR2: pseudo-relevance-feedback query expansion (Rocchio's term-
    // selection half): take ir1's top-10 documents as the relevant set,
    // score every term they contain by feedback-tf × the same rational
    // idf core, drop the original query terms, and emit the top
    // expansion candidates. The feedback set is a broadcast of 10 ids;
    // corpus df comes from one token-level hash-agg — nothing quadratic,
    // nothing windowed. With ir1 this closes the classic two-pass
    // retrieval loop (retrieve → expand → re-retrieve).
    "ir2_prf_expansion" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
      val withTf = QUERY.foldLeft(docs) { (df, t) =>
        df.withColumn(s"tf_$t",
          expr(s"CAST(size(filter(ts, x -> x = '$t')) AS LONG)"))
      }.withColumn("dl", size(col("ts")).cast("long"))
      val stats = withTf.agg(
        count(lit(1)).as("n_docs"),
        (sum(col("dl")).as("sum_dl") +: QUERY.map(t =>
          sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))): _*)
      val contribs = QUERY.map { t =>
        val tf = col(s"tf_$t").cast("double")
        val idf = (col("n_docs").cast("double") - col(s"df_$t") + lit(0.5)) /
          (col(s"df_$t").cast("double") + lit(0.5))
        idf * (tf * lit(2.2)) /
          (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
      }
      val top10 = withTf.crossJoin(broadcast(stats))
        .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
        .withColumn("score", contribs.reduceLeft(_ + _))
        .filter(QUERY.map(t => col(s"tf_$t")).reduceLeft(_ + _) > 0)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
        .select("doc_id")
      val toks = docs.select(col("doc_id"), explode(col("ts")).as("term"))
      val dfAll = toks.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val fbTf = toks.join(broadcast(top10), "doc_id")
        .groupBy("term").agg(count(lit(1)).as("fb_tf"))
      val nTotal = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      fbTf
        .filter(!col("term").isin(QUERY: _*))
        .join(dfAll, "term")
        .crossJoin(broadcast(nTotal))
        .select(col("term"), col("fb_tf"), col("df"),
          stableRound(
            col("fb_tf") * ((col("n_docs").cast("double") - col("df") + lit(0.5)) /
              (col("df").cast("double") + lit(0.5))), 6).as("expansion_score"))
        .orderBy(col("expansion_score").desc, col("term"))
        .limit(10)
    },

    // G6: link prediction on the mutual-kNN embedding graph — for every
    // NON-adjacent vector pair, count common neighbors and score by
    // neighborhood Jaccard cn / (deg_a + deg_b - cn). High scorers are
    // semantic near-dup edges the kNN cut missed (A and B share most of
    // their neighborhoods but weren't in each other's top-5) — the
    // re-verify worklist graph-based dedup/diversity sampling expands
    // with. (The doc-shingle near-dup graph is the wrong substrate here:
    // at Jaccard >= 0.5 it is isolated edges with zero wedges.) Wedge
    // enumeration is one join on the shared-neighbor key over the
    // memoized mutual-kNN edge list (fan-out Σdeg(v)², deg <= 5 by
    // construction); existing edges leave by anti-join. Integers + one
    // ratio: full hash gate.
    "g6_link_prediction" -> { (s, d) =>
      val mutual = mutualKnn(s, d)
      val deg = mutual.groupBy("src").agg(count(lit(1)).as("deg"))
      val e1 = mutual.select(col("dst").as("nb"), col("src").as("a"))
      val e2 = mutual.select(col("dst").as("nb"), col("src").as("b"))
      val cn = e1.join(e2, Seq("nb"))
        .filter(col("a") < col("b"))
        .groupBy("a", "b")
        .agg(count(lit(1)).as("cn"))
      val existing = mutual.filter(col("src") < col("dst"))
        .select(col("src").as("a"), col("dst").as("b"))
      cn.join(existing, Seq("a", "b"), "left_anti")
        .join(deg.select(col("src").as("a"), col("deg").as("deg_a")), "a")
        .join(deg.select(col("src").as("b"), col("deg").as("deg_b")), "b")
        .select(col("a").as("vec_a"), col("b").as("vec_b"),
          col("cn"), col("deg_a"), col("deg_b"),
          stableRound(col("cn").cast("double") /
            (col("deg_a") + col("deg_b") - col("cn")), 6).as("cn_jaccard"))
        .orderBy(col("cn").desc, col("cn_jaccard").desc, col("vec_a"), col("vec_b"))
        .limit(20)
    },

    // TS7: Theil–Sen robust trend per event type — the median of all
    // pairwise day-to-day slopes. Daily totals are exact decimal sums
    // (identical doubles both engines), so every pairwise slope is the
    // same IEEE division both sides and the DISCRETE median is an element
    // selection — bit-stable without any interpolation caveat. The pair
    // enumeration is per-group over the DAILY rollup (≤ C(days,2) rows per
    // group — days, not events), so the quadratic term is in the calendar,
    // not the corpus.
    // The slope median rides QuantileRefine since r13: the slope set is
    // C(days,2) per type — calendar-QUADRATIC — so the percentile_disc
    // builtin's one-task value map grows with the square of the span.
    "ts7_theil_sen" -> { (s, d) =>
      Tables.events(s, d).createOrReplaceTempView("ts7_events")
      val slopes = s.sql(
        """WITH daily AS (
          |  SELECT event_type, CAST(ts AS DATE) AS day,
          |         CAST(ROUND(SUM(CAST(value AS DECIMAL(30,8))), 4) AS DOUBLE) AS dv
          |  FROM ts7_events GROUP BY 1, 2)
          |SELECT a.event_type,
          |       (b.dv - a.dv) / nullif(datediff(b.day, a.day), 0) AS slope
          |FROM daily a JOIN daily b
          |  ON a.event_type = b.event_type AND a.day < b.day""".stripMargin)
      // nullif guards ANSI division: this plan shape evaluates the slope
      // projection before the join's a.day < b.day residual, so same-day
      // pairs transiently exist; they never survive the join, and the
      // denominator is never 0 on surviving rows, so values are unchanged.
      val med = QuantileRefine.atRankExprs(
        slopes.select(col("event_type"), col("slope").as("v"), lit(1L).as("c")),
        Seq("event_type"), Seq("med" -> "(n + 1) DIV 2"))
        .select(col("event_type"), col("n").as("n_pairs"),
          round(col("v") + 1e-9, 6).as("theil_sen_slope"))
      val census = slopes.groupBy("event_type")
        .agg(
          sum(when(col("slope") > 0, 1L).otherwise(0L)).as("n_up"),
          sum(when(col("slope") < 0, 1L).otherwise(0L)).as("n_down"))
      med.join(census, Seq("event_type"))
        .select(col("event_type"), col("n_pairs"), col("theil_sen_slope"),
          col("n_up"), col("n_down"))
        .orderBy("event_type")
    },

    // SA14: randomized response over the lang column — the local-DP
    // release: keep the true label with p = 0.75, else substitute the
    // hash-chosen uniform label (possibly the true one — standard RR).
    // Both coin flips are sa1-convention salted md5, so membership is
    // reproducible and append-safe, and the debiased estimator
    // (m - N(1-p)/K)/p is the same closed form both engines. The audit a
    // privacy-constrained census pipeline gates on: released counts plus
    // the estimator's recovery of the true histogram.
    "sa14_randomized_response" -> { (s, d) =>
      val langsArr = array(LANGS.map(lit): _*)
      val docs = Tables.documents(s, d)
        .withColumn("h_keep", keyHash("graft-rr-keep", col("doc_id")))
        .withColumn("h_pick", keyHash("graft-rr-pick", col("doc_id")))
        .withColumn("reported",
          when(pmod(col("h_keep"), lit(100)) < 75, col("lang"))
            .otherwise(element_at(langsArr,
              (pmod(col("h_pick"), lit(5)) + 1).cast("int"))))
      val trueCounts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_true"))
      val repCounts = docs.groupBy(col("reported").as("lang"))
        .agg(count(lit(1)).as("n_reported"))
      val total = docs.agg(count(lit(1)).as("n_total"))
      trueCounts.join(repCounts, Seq("lang"))
        .crossJoin(broadcast(total))
        .select(col("lang"), col("n_true"), col("n_reported"),
          stableRound(
            (col("n_reported").cast("double") - col("n_total") * lit(0.05)) /
              lit(0.75), 4).as("debiased_estimate"))
        .orderBy("lang")
    },

    // EMB4: standardization audit — per-dimension mean/std plus an outlier
    // census at the |z| > 2 fence evaluated ENTIRELY in exact integer
    // arithmetic: |v - m| > 2s  ⟺  (n·v6 - s6)²·(n-1) > 4·n·(n·s66 - s6²)
    // over the 1e6-scaled coordinates, so the fence verdict cannot flip on
    // a cross-engine double ulp (squared terms widen to DECIMAL(38,0) /
    // HUGEINT — at sf0.1 they reach ~1e22). Two linear passes: a 64-row
    // moments aggregate, broadcast back onto the coordinate stream for the
    // census — the z-score feature-scaling step with its QA, fused.
    "emb4_standardize" -> { (s, d) =>
      val ivs = Tables.embeddings(s, d)
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("dim"),
          floor(col("v").cast("double") * 1e6 + 0.5).cast("long").as("v6"))
      val moments = ivs.groupBy("dim").agg(
        count(lit(1)).as("n"),
        sum(col("v6")).as("s6"),
        sum((col("v6") * col("v6")).cast("decimal(38,0)")).as("s66"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      ivs.join(broadcast(moments), "dim")
        .withColumn("lhs",
          dec(col("n") * col("v6") - col("s6")) *
            dec(col("n") * col("v6") - col("s6")) * dec(col("n") - 1))
        .withColumn("rhs",
          dec(lit(4)) * dec(col("n")) *
            (dec(col("n")) * col("s66") - dec(col("s6")) * dec(col("s6"))))
        .groupBy("dim")
        .agg(
          max(col("n")).as("n"),
          max(col("s6")).as("s6"),
          max(col("s66")).as("s66"),
          sum(when(col("lhs") > col("rhs"), 1L).otherwise(0L)).as("n_outliers"))
        .select(col("dim"), col("n"),
          stableRound(col("s6").cast("double") / col("n") / 1e6, 6).as("mean_v"),
          stableRound(
            sqrt((col("n") * col("s66").cast("double") -
              col("s6").cast("double") * col("s6")) /
              (col("n").cast("double") * (col("n") - 1))) / 1e6, 6).as("std_v"),
          col("n_outliers"))
        .orderBy("dim")
    },

    // EMB5: truncated-embedding retrieval evaluation (the Matryoshka /
    // MRL question): if the index stores only the first P of 64
    // dimensions, how much of the full-precision top-5 does prefix-dot
    // retrieval keep? One all-pairs pass computes ALL FOUR dots (P = 8,
    // 16, 32, 64) as zip_with-slice folds — the prefix dots are free
    // sub-sums of the work the full dot does anyway — then each prefix's
    // 5-NN joins the full-dot 5-NN on (src, dst) and the kept fraction is
    // recall@5. Exact int64 dots throughout: the rankings cannot drift,
    // so the recall numerator is an exact integer. Audit-scale exact
    // baseline, same contract as sim10 (sim2/sim3 are the corpus-scale
    // paths).
    "emb5_matryoshka_eval" -> { (s, d) =>
      // r15 (§2.3/§2.4): ONE pass over the memoized n²-row dot table ranks
      // ALL FOUR prefixes — the stack unpivot feeds a single
      // (prefix, src)-keyed bounded-heap TopKPerGroup, where the previous
      // form ran one TopK scan per ranking PLUS re-evaluated the full-dot
      // ranking once per recall join (profiled: 4 concurrent full scans of
      // the checkpoint at 32c, stage-sum 14.8 s vs 4.2 s wall). Rankings
      // are identical per (src, prefix): same dots, same
      // (dot desc, dst asc) tie-break, same k — only the number of scans
      // changes. The ranked table is ≤ 4·n·5 rows, scope-persisted for the
      // three recall joins.
      val topAll = graft.CacheScope.persistScoped(graft.plans.TopK.perGroup(
          directedDots(s, d).selectExpr("src", "dst",
            "stack(4, 8L, d8, 16L, d16, 32L, d32, 64L, d64) AS (prefix_dims, dot)"),
          k = 5,
          groupCols = Seq("prefix_dims", "src"),
          orderBy = Seq("dot" -> false, "dst" -> true))
        .select("prefix_dims", "src", "dst"))
      val full = topAll.filter(col("prefix_dims") === 64L).select("src", "dst")
      val nNodes = Tables.embeddings(s, d).agg(count(lit(1)).as("n_nodes"))
      Seq(8, 16, 32).map { p =>
        topAll.filter(col("prefix_dims") === p.toLong).select("src", "dst")
          .join(full, Seq("src", "dst"))
          .agg(count(lit(1)).as("n_kept"))
          .select(lit(p.toLong).as("prefix_dims"), col("n_kept"))
      }.reduce(_ unionAll _)
        .crossJoin(broadcast(nNodes))
        .select(col("prefix_dims"), col("n_nodes"), col("n_kept"),
          stableRound(col("n_kept").cast("double") / (col("n_nodes") * 5), 6)
            .as("recall_at_5"))
        .orderBy("prefix_dims")
    },

    // F28: multi-touch attribution — every purchase splits one unit of
    // credit linearly across the user's view/click touches in the
    // preceding 24 h (the marketing-attribution primitive; first/last-
    // touch are the same dataflow with an argmin/argmax instead of the
    // split). The touch↔conversion pairing is a per-user range join
    // (bounded fan-out: a user's touches within one day), credits are
    // exact rationals 1/n summed through the decimal shape, and
    // conversions with NO preceding touch surface as a '(direct)' row —
    // attribution that silently drops orphans overstates channels.
    "f28_attribution" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("t"), col("value"))
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("conv_id"),
          col("t").as("conv_t"), col("value").as("conv_value"))
      val touch = ev.filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("event_type").as("touch_type"),
          col("t").as("touch_t"))
      val pairs = conv.join(touch, Seq("user_id"))
        .filter(col("touch_t") <= col("conv_t") &&
          col("touch_t") > col("conv_t") - lit(86400000000L))
      val perConv = pairs.groupBy("conv_id")
        .agg(count(lit(1)).as("n_touches"))
      val credited = pairs.join(broadcast(perConv), "conv_id")
        .withColumn("credit", lit(1.0) / col("n_touches"))
      val byType = credited.groupBy("touch_type")
        .agg(
          countDistinct(col("conv_id")).as("n_conversions"),
          count(lit(1)).as("n_touches"),
          graft.functions.Exact.dsum(col("credit")).as("total_credit"),
          graft.functions.Exact.dsum(col("credit") * col("conv_value"))
            .as("attributed_value"))
      val direct = conv.join(perConv, conv("conv_id") === perConv("conv_id"), "left_anti")
        .agg(count(lit(1)).as("n_conversions"))
        .select(lit("(direct)").as("touch_type"), col("n_conversions"),
          lit(0L).as("n_touches"),
          col("n_conversions").cast("double").as("total_credit"),
          lit(0.0).as("attributed_value"))
      byType.unionByName(direct)
        .select(col("touch_type"), col("n_conversions"), col("n_touches"),
          stableRound(col("total_credit"), 4).as("total_credit"),
          stableRound(col("attributed_value"), 4).as("attributed_value"))
        .orderBy("touch_type")
    },

    // G8: partition conductance — how well the LABEL partition matches the
    // mutual-kNN graph's community structure: per label, the share of its
    // edge volume that crosses the boundary, cut / min(vol, 2m − vol).
    // Low conductance = labels are real communities (cluster-aware
    // splits — sa10 — will generalize); high = the labels shear the
    // graph. Pure integer census over the memoized mutual edge list; the
    // metric g2's modularity complements (different graph, different
    // normalization).
    "g8_conductance" -> { (s, d) =>
      val mutual = mutualKnn(s, d)
      val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      // per-vector-sized label table: no broadcast hint (see sim13's note)
      val edges = mutual
        .join(labels.select(col("vec_id").as("src"), col("label").as("l_src")), "src")
        .join(labels.select(col("vec_id").as("dst"), col("label").as("l_dst")), "dst")
      val tot = edges.agg(count(lit(1)).as("total_vol"))
      edges.groupBy(col("l_src").as("label"))
        .agg(count(lit(1)).as("vol"),
          sum(when(col("l_src") =!= col("l_dst"), 1L).otherwise(0L)).as("cut"))
        .crossJoin(broadcast(tot))
        .select(col("label"), col("vol"), col("cut"),
          stableRound(col("cut").cast("double") /
            least(col("vol"), col("total_vol") - col("vol")), 6)
            .as("conductance"))
        .orderBy("label")
    },

    // EMB6: binary-embedding retrieval evaluation — the 1-bit
    // quantization story (sign binarization): the 64 dims pack into two
    // 32-bit machine words per vector (bit k = sign of coordinate k),
    // Hamming distance is two popcounts — O(words) ALU ops per PAIR
    // instead of 64 multiply-adds — and the audit reports how much of the exact top-5
    // the Hamming ranking keeps plus the memory ratio (64 bits vs 64
    // floats = 32×). Ranking ties (equal Hamming distance) break on
    // neighbor id, so the cut is engine-independent. The packed scan is
    // linear; the all-pairs Hamming table is the audit-scale exact twin
    // (sim2's LSH buckets are the corpus-scale path — same bit trick,
    // banded).
    "emb6_binary_retrieval" -> { (s, d) =>
      // Two 32-bit words, not one 64-bit: bit 63 would need 1 << 63,
      // which DuckDB rejects as signed overflow (the a25 bitmap op hit
      // the same wall and packs 63-bit words). Hamming distance is then
      // two popcounts — still O(words), not O(dims).
      def word(lo: Int) = expr(
        s"""aggregate(transform(sequence($lo, $lo + 31),
              k -> CASE WHEN CAST(element_at(embedding, k + 1) AS DOUBLE) > 0
                        THEN shiftleft(1L, k - $lo) ELSE 0L END),
            0L, (acc, x) -> acc + x)""")
      val packed = Tables.embeddings(s, d)
        .select(col("vec_id"), word(0).as("w0"), word(32).as("w1"))
      val lhs = packed.select(col("vec_id").as("src"),
        col("w0").as("a0"), col("w1").as("a1"))
      val rhs = packed.select(col("vec_id").as("dst"),
        col("w0").as("b0"), col("w1").as("b1"))
      val ham = lhs.crossJoin(rhs).filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"),
          expr("CAST(bit_count(a0 ^ b0) + bit_count(a1 ^ b1) AS BIGINT)").as("hd"))
      val hamTop = graft.plans.TopK.perGroup(ham, k = 5,
        groupCols = Seq("src"), orderBy = Seq("hd" -> true, "dst" -> true))
        .select("src", "dst")
      val full = top5(s, d, "d64")
      val nNodes = Tables.embeddings(s, d).agg(count(lit(1)).as("n_nodes"))
      hamTop.join(full, Seq("src", "dst"))
        .agg(count(lit(1)).as("n_kept"))
        .crossJoin(broadcast(nNodes))
        .select(
          lit(64L).as("code_bits"),
          col("n_nodes"), col("n_kept"),
          stableRound(col("n_kept").cast("double") / (col("n_nodes") * 5), 6)
            .as("recall_at_5"),
          lit(32L).as("compression_x"))
    },

    // G9: multi-source BFS distance layers — hop distance from the seed
    // set (vec_id ≡ 0 mod 100) over the mutual-kNN graph, the reach
    // primitive under "how far is every vector from a curated anchor"
    // audits. Pregel form: each round min-combines a node's own distance
    // with (neighbor distance + 1) via union-all + groupBy-MIN (MIN
    // ignores the NULLs of never-reached nodes), 4 rounds bounded, each
    // pinned by localCheckpoint (dd7/g1's iteration contract). Output is
    // the layer census with unreached nodes surfaced as level -1 —
    // dropping them would overstate connectivity. Exact integers only.
    "g9_bfs_layers" -> { (s, d) =>
      val mutual = mutualKnn(s, d)
      var dist = Tables.embeddings(s, d).select(col("vec_id").as("v"),
          when(col("vec_id") % 100 === 0, 0L).as("dist"))
        .localCheckpoint()
      for (_ <- 1 to 4) {
        dist = dist.select(col("v"), col("dist"))
          .unionAll(mutual
            .join(dist.withColumnRenamed("v", "src"), "src")
            .filter(col("dist").isNotNull)
            .select(col("dst").as("v"), (col("dist") + 1).as("dist")))
          .groupBy("v").agg(min(col("dist")).as("dist"))
          .localCheckpoint()
      }
      dist.groupBy(coalesce(col("dist"), lit(-1L)).as("level"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("v")).as("id_checksum"))
        .orderBy("level")
    },

    // SIM11: MMR diversity selection — Maximal Marginal Relevance, the
    // standard diversity-aware pick for few-shot example selection /
    // dedup-aware retrieval: greedily take the candidate maximizing
    // rel(q, c) − max_{s∈S} sim(c, s) (λ = 1/2 in integer form: both
    // terms are exact int64 dots on the shared stage, so the margin is an
    // exact integer and ties break on id). K = 5 rounds; each round is a
    // distributed broadcast-join + argmax with only the 1-row winner on
    // the driver (dd7's convergence-scalar contract) — the sequential
    // part is the ALGORITHM's data dependence, not a scheduling choice.
    "sim11_mmr_select" -> { (s, d) =>
      import s.implicits._
      val dots = directedDots(s, d).select(col("src"), col("dst"), col("d64"))
      val qid = Tables.embeddings(s, d)
        .agg(min(col("vec_id"))).collect()(0).getLong(0)
      val rel = dots.filter(col("src") === qid)
        .select(col("dst").as("v"), col("d64").as("rel"))
      var selected = Vector.empty[(Long, Long, Long, Long)]
      for (_ <- 1 to 5) {
        val selIds = selected.map(_._2)
        val cand =
          if (selIds.isEmpty) rel.withColumn("ms", lit(0L))
          else {
            val ms = dots.filter(col("dst").isin(selIds: _*))
              .groupBy(col("src").as("v")).agg(max(col("d64")).as("ms"))
            rel.filter(!col("v").isin(selIds: _*)).join(ms, "v")
          }
        val top = cand.withColumn("mmr", col("rel") - col("ms"))
          .orderBy(col("mmr").desc, col("v")).limit(1)
          .select("v", "rel", "ms", "mmr").collect()(0)
        selected :+= ((selected.size + 1L, top.getLong(0), top.getLong(1), top.getLong(3)))
      }
      selected.toDF("rank", "vec_id", "relevance", "mmr_score")
        .orderBy("rank")
    },

    // SIM10: mutual-kNN graph + label homophily — each vector's 5 nearest
    // by EXACT integer dot product (emb1 scaling), kept only if the edge
    // is reciprocated (the standard graph-cleanup before diffusion /
    // cluster-aware sampling), then a per-label census: how often a
    // vector's mutual neighbors share its label. THE exact all-pairs
    // baseline — the verification twin of sim2 (LSH) and sim3 (IVF), per
    // the dd4→dd16 convention: run at audit scale, never at corpus scale;
    // the bucketed paths are the 100 TB shape. Ties break on neighbor id;
    // dots are int64 (≤ 64·(2^20)² ≈ 7e13), so the ranking cannot drift.
    "sim10_knn_graph" -> { (s, d) =>
      val mutual = mutualKnn(s, d)
      val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val nodes = labels.groupBy("label").agg(count(lit(1)).as("n_nodes"))
      // per-vector-sized label table: no broadcast hint (see sim13's note)
      mutual
        .join(labels.select(col("vec_id").as("src"), col("label").as("l_src")), "src")
        .join(labels.select(col("vec_id").as("dst"), col("label").as("l_dst")), "dst")
        .groupBy(col("l_src").as("label"))
        .agg(
          count(lit(1)).as("mutual_edges"),
          sum(when(col("l_src") === col("l_dst"), 1L).otherwise(0L)).as("within_label"))
        .join(nodes, Seq("label"))
        .select(col("label"), col("n_nodes"), col("mutual_edges"), col("within_label"),
          stableRound(col("within_label").cast("double") / col("mutual_edges"), 6)
            .as("homophily"))
        .orderBy("label")
    },

    // SIM13: LABEL PROPAGATION over the mutual-kNN graph (Zhu &
    // Ghahramani 2002, label spreading — public): semi-supervised label
    // assignment for curation, where a small labeled seed set extends to
    // the unlabeled mass through embedding-space neighbors — the
    // classifier-free way to scale quality/domain labels to 100 TB.
    // Hold out every 5th vector, predict its label as the majority vote
    // of its seed-labeled mutual neighbors (integer votes, ties to the
    // smaller label — fully deterministic, no float scores), and audit
    // the prediction against the held-out truth. The graph is the
    // memoized mutual-kNN stage output (sim10's machinery): edges are
    // ≤ k per node, so the vote is one broadcast-join + hash-agg —
    // nothing quadratic, nothing iterative.
    "sim13_label_spread" -> { (s, d) =>
      val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      // NB: the label table is one row per VECTOR — corpus-sized, unlike
      // every other broadcast() in this repo (1-row totals, dimension
      // tables, codebooks). No broadcast hint (r11 verdict item 3): plain
      // equi-joins let AQE broadcast while the table is small and fall
      // back to a shuffle join when it is not — a forced hint here would
      // pin the full label map in the driver and every executor at 100×.
      val votes = mutualKnn(s, d)
        .join(labels
          .filter(col("vec_id") % 5 === 0)
          .select(col("vec_id").as("src"), col("label").as("true_label")), "src")
        .join(labels
          .filter(col("vec_id") % 5 =!= 0)
          .select(col("vec_id").as("dst"), col("label").as("nbr_label")), "dst")
        .groupBy("src", "true_label", "nbr_label")
        .agg(count(lit(1)).as("n"))
      votes
        .groupBy(col("src").as("vec_id"), col("true_label"))
        .agg(
          max(struct(col("n"), (-col("nbr_label")).as("nl"))).as("b"),
          sum("n").as("total_votes"))
        .select(col("vec_id"), (-col("b.nl")).as("pred_label"),
          col("b.n").as("n_votes"), col("total_votes"), col("true_label"),
          (col("b.nl") === -col("true_label")).as("correct"))
        .orderBy("vec_id")
    })

  /** DuckDB mirror of [[mutualKnn]] (shared by the sim10 and g6 oracles). */
  private val duckMutualKnn =
    """iv AS (
         SELECT vec_id, i - 1 AS dim,
                CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS x
         FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)),
       dots AS (
         SELECT a.vec_id AS src, b.vec_id AS dst, SUM(a.x * b.x) AS dot
         FROM iv a JOIN iv b ON a.dim = b.dim AND a.vec_id <> b.vec_id
         GROUP BY 1, 2),
       rk AS (
         SELECT src, dst,
                ROW_NUMBER() OVER (PARTITION BY src ORDER BY dot DESC, dst) AS rn
         FROM dots),
       knn AS (SELECT src, dst FROM rk WHERE rn <= 5),
       mutual AS (
         SELECT x.src, x.dst FROM knn x
         JOIN knn y ON x.src = y.dst AND x.dst = y.src)"""

  /** sim11's greedy rounds, unrolled as chained CTEs (g1/g5's iterCtes
    * precedent): selᵣ accumulates the winners, candᵣ scores the rest via a
    * correlated MAX over the materialized dot table, sᵣ takes the argmax
    * under the same (mmr DESC, v) total order as the Spark side. */
  private val mmrSteps: String = (2 to 5).map { r =>
    val prevSel = (1 until r).map(i => s"SELECT v FROM s$i").mkString(" UNION ALL ")
    s"""sel${r - 1} AS ($prevSel),
        cand$r AS (
          SELECT rl.v, rl.rel,
                 (SELECT MAX(dt.d64) FROM dots dt
                  JOIN sel${r - 1} s ON dt.src = rl.v AND dt.dst = s.v) AS ms
          FROM rel rl WHERE rl.v NOT IN (SELECT v FROM sel${r - 1})),
        s$r AS (SELECT v, rel, ms, rel - ms AS mmr FROM cand$r
                ORDER BY mmr DESC, v LIMIT 1)"""
  }.mkString(",\n")

  /** g9's unrolled BFS rounds (g1/f29's iterCtes convention): each round
    * min-combines own distance with neighbor distance + 1. */
  private val bfsRounds: String = (1 to 4).map { k =>
    s"""d$k AS (
          SELECT v, MIN(dist) AS dist FROM (
            SELECT v, dist FROM d${k - 1}
            UNION ALL
            SELECT m.dst AS v, dp.dist + 1 AS dist
            FROM mutual m JOIN d${k - 1} dp ON dp.v = m.src
            WHERE dp.dist IS NOT NULL)
          GROUP BY v)"""
  }.mkString(",\n")

  val oracles: Map[String, String] = Map(
    "g9_bfs_layers" ->
      s"""WITH $duckMutualKnn,
          d0 AS (
            SELECT vec_id AS v,
                   CASE WHEN vec_id % 100 = 0 THEN CAST(0 AS BIGINT) END AS dist
            FROM embeddings),
          $bfsRounds
          SELECT COALESCE(dist, -1) AS level,
                 CAST(COUNT(*) AS BIGINT) AS n_nodes,
                 CAST(SUM(v) AS BIGINT) AS id_checksum
          FROM d4 GROUP BY 1 ORDER BY 1""",

    "f28_attribution" ->
      """WITH ev AS (
           SELECT event_id, user_id, event_type,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS t, "value"
           FROM events),
         conv AS (
           SELECT user_id, event_id AS conv_id, t AS conv_t, "value" AS conv_value
           FROM ev WHERE event_type = 'purchase'),
         touch AS (
           SELECT user_id, event_type AS touch_type, t AS touch_t
           FROM ev WHERE event_type IN ('view', 'click')),
         pairs AS (
           SELECT c.conv_id, c.conv_value, tc.touch_type
           FROM conv c JOIN touch tc ON tc.user_id = c.user_id
           WHERE tc.touch_t <= c.conv_t AND tc.touch_t > c.conv_t - 86400000000),
         per_conv AS (SELECT conv_id, COUNT(*) AS n_touches FROM pairs GROUP BY 1),
         credited AS (
           SELECT p.touch_type, p.conv_id, p.conv_value,
                  1.0 / pc.n_touches AS credit
           FROM pairs p JOIN per_conv pc ON pc.conv_id = p.conv_id),
         by_type AS (
           SELECT touch_type,
                  CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions,
                  CAST(COUNT(*) AS BIGINT) AS n_touches,
                  CAST(ROUND(SUM(CAST(credit AS DECIMAL(30,8))), 4) AS DOUBLE) AS total_credit,
                  CAST(ROUND(SUM(CAST(credit * conv_value AS DECIMAL(30,8))), 4) AS DOUBLE)
                    AS attributed_value
           FROM credited GROUP BY 1),
         direct AS (
           SELECT '(direct)' AS touch_type,
                  CAST(COUNT(*) AS BIGINT) AS n_conversions,
                  CAST(0 AS BIGINT) AS n_touches,
                  CAST(COUNT(*) AS DOUBLE) AS total_credit,
                  0.0 AS attributed_value
           FROM conv WHERE conv_id NOT IN (SELECT conv_id FROM per_conv))
         SELECT touch_type, n_conversions, n_touches,
                ROUND(total_credit + 1e-9, 4) + 0.0 AS total_credit,
                ROUND(attributed_value + 1e-9, 4) + 0.0 AS attributed_value
         FROM (SELECT * FROM by_type UNION ALL SELECT * FROM direct)
         ORDER BY touch_type""",

    "g8_conductance" ->
      s"""WITH $duckMutualKnn,
          lab AS (SELECT vec_id, label FROM embeddings),
          edges AS (
            SELECT m.src, m.dst, ls.label AS l_src, ld.label AS l_dst
            FROM mutual m
            JOIN lab ls ON ls.vec_id = m.src
            JOIN lab ld ON ld.vec_id = m.dst),
          tot AS (SELECT COUNT(*) AS total_vol FROM edges)
          SELECT e.l_src AS label,
                 CAST(COUNT(*) AS BIGINT) AS vol,
                 CAST(SUM(CASE WHEN e.l_src <> e.l_dst THEN 1 ELSE 0 END) AS BIGINT) AS cut,
                 ROUND(CAST(SUM(CASE WHEN e.l_src <> e.l_dst THEN 1 ELSE 0 END) AS DOUBLE)
                       / LEAST(COUNT(*), t.total_vol - COUNT(*)) + 1e-9, 6) AS conductance
          FROM edges e CROSS JOIN tot t
          GROUP BY e.l_src, t.total_vol
          ORDER BY label""",

    "sim11_mmr_select" ->
      s"""WITH iv AS (
            SELECT vec_id, i - 1 AS dim,
                   CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS x
            FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)),
          dots AS MATERIALIZED (
            SELECT a.vec_id AS src, b.vec_id AS dst,
                   CAST(SUM(a.x * b.x) AS BIGINT) AS d64
            FROM iv a JOIN iv b ON a.dim = b.dim AND a.vec_id <> b.vec_id
            GROUP BY 1, 2),
          rel AS (
            SELECT dst AS v, d64 AS rel FROM dots
            WHERE src = (SELECT MIN(vec_id) FROM embeddings)),
          s1 AS (SELECT v, rel, CAST(0 AS BIGINT) AS ms, rel AS mmr FROM rel
                 ORDER BY mmr DESC, v LIMIT 1),
          $mmrSteps
          SELECT * FROM (
            SELECT CAST(1 AS BIGINT) AS rank, v AS vec_id, rel AS relevance, mmr AS mmr_score FROM s1
            UNION ALL
            SELECT CAST(2 AS BIGINT), v, rel, mmr FROM s2
            UNION ALL
            SELECT CAST(3 AS BIGINT), v, rel, mmr FROM s3
            UNION ALL
            SELECT CAST(4 AS BIGINT), v, rel, mmr FROM s4
            UNION ALL
            SELECT CAST(5 AS BIGINT), v, rel, mmr FROM s5)
          ORDER BY rank""",

    "ir1_bm25_topk" ->
      """WITH docs AS (
           SELECT doc_id, string_split(text, ' ') AS ts,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
           FROM documents),
         tf AS (
           SELECT doc_id, dl,
                  CAST(len(list_filter(ts, x -> x = 'hash')) AS BIGINT) AS tf_hash,
                  CAST(len(list_filter(ts, x -> x = 'join')) AS BIGINT) AS tf_join,
                  CAST(len(list_filter(ts, x -> x = 'vector')) AS BIGINT) AS tf_vector
           FROM docs),
         stats AS (
           SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
                  SUM(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS df_hash,
                  SUM(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
                  SUM(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS df_vector
           FROM tf),
         scored AS (
           SELECT t.doc_id, t.dl, t.tf_hash, t.tf_join, t.tf_vector,
                  (CAST(s.n_docs AS DOUBLE) - s.df_hash + 0.5) / (CAST(s.df_hash AS DOUBLE) + 0.5)
                    * (CAST(t.tf_hash AS DOUBLE) * 2.2)
                    / (CAST(t.tf_hash AS DOUBLE) + 1.2 * (0.25 + 0.75 * t.dl / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
                + (CAST(s.n_docs AS DOUBLE) - s.df_join + 0.5) / (CAST(s.df_join AS DOUBLE) + 0.5)
                    * (CAST(t.tf_join AS DOUBLE) * 2.2)
                    / (CAST(t.tf_join AS DOUBLE) + 1.2 * (0.25 + 0.75 * t.dl / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
                + (CAST(s.n_docs AS DOUBLE) - s.df_vector + 0.5) / (CAST(s.df_vector AS DOUBLE) + 0.5)
                    * (CAST(t.tf_vector AS DOUBLE) * 2.2)
                    / (CAST(t.tf_vector AS DOUBLE) + 1.2 * (0.25 + 0.75 * t.dl / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
                  AS score
           FROM tf t CROSS JOIN stats s
           WHERE t.tf_hash + t.tf_join + t.tf_vector > 0)
         SELECT doc_id, dl, tf_hash, tf_join, tf_vector,
                ROUND(score + 1e-9, 6) AS bm25_score
         FROM scored
         ORDER BY bm25_score DESC, doc_id LIMIT 20""",

    // ir1's scored CTE + the fused second stage, both ranks, pair census.
    "ir3_rerank" ->
      """WITH docs AS (
           SELECT doc_id, string_split(text, ' ') AS ts,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
           FROM documents),
         tf AS (
           SELECT doc_id, dl,
                  CAST(len(list_filter(ts, x -> x = 'hash')) AS BIGINT) AS tf_hash,
                  CAST(len(list_filter(ts, x -> x = 'join')) AS BIGINT) AS tf_join,
                  CAST(len(list_filter(ts, x -> x = 'vector')) AS BIGINT) AS tf_vector
           FROM docs),
         stats AS (
           SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
                  SUM(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS df_hash,
                  SUM(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
                  SUM(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS df_vector
           FROM tf),
         scored AS (
           SELECT t.doc_id, t.dl, t.tf_hash, t.tf_join, t.tf_vector,
                  ROUND(
                  (CAST(s.n_docs AS DOUBLE) - s.df_hash + 0.5) / (CAST(s.df_hash AS DOUBLE) + 0.5)
                    * (CAST(t.tf_hash AS DOUBLE) * 2.2)
                    / (CAST(t.tf_hash AS DOUBLE) + 1.2 * (0.25 + 0.75 * t.dl / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
                + (CAST(s.n_docs AS DOUBLE) - s.df_join + 0.5) / (CAST(s.df_join AS DOUBLE) + 0.5)
                    * (CAST(t.tf_join AS DOUBLE) * 2.2)
                    / (CAST(t.tf_join AS DOUBLE) + 1.2 * (0.25 + 0.75 * t.dl / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
                + (CAST(s.n_docs AS DOUBLE) - s.df_vector + 0.5) / (CAST(s.df_vector AS DOUBLE) + 0.5)
                    * (CAST(t.tf_vector AS DOUBLE) * 2.2)
                    / (CAST(t.tf_vector AS DOUBLE) + 1.2 * (0.25 + 0.75 * t.dl / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
                  + 1e-9, 6) AS bm25
           FROM tf t CROSS JOIN stats s
           WHERE t.tf_hash + t.tf_join + t.tf_vector > 0),
         cand AS (
           SELECT CAST(0 AS BIGINT) AS query_id, doc_id, dl,
                  CAST((CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) +
                       (CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) +
                       (CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS BIGINT) AS coverage,
                  bm25
           FROM scored ORDER BY bm25 DESC, doc_id LIMIT 20),
         rr AS (
           SELECT query_id, doc_id, bm25,
                  2.0 * coverage + 0.1 * bm25 + 100.0 / (CAST(dl AS DOUBLE) + 50.0) AS rr_score
           FROM cand),
         ranked AS (
           SELECT query_id, doc_id, rr_score,
                  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS bm25_rank,
                  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rr_score DESC, doc_id) AS rerank_rank
           FROM rr),
         tau AS (
           SELECT a.query_id,
                  CAST(SUM(CASE WHEN (a.bm25_rank - b.bm25_rank) * (a.rerank_rank - b.rerank_rank) > 0
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_concordant,
                  CAST(SUM(CASE WHEN (a.bm25_rank - b.bm25_rank) * (a.rerank_rank - b.rerank_rank) < 0
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_discordant
           FROM ranked a JOIN ranked b
             ON a.query_id = b.query_id AND a.doc_id < b.doc_id
           GROUP BY 1)
         SELECT r.query_id, r.doc_id,
                CAST(r.bm25_rank AS BIGINT) AS bm25_rank,
                CAST(r.rerank_rank AS BIGINT) AS rerank_rank,
                CAST(r.bm25_rank - r.rerank_rank AS BIGINT) AS rank_delta,
                ROUND(r.rr_score + 1e-9, 6) AS rerank_score,
                t.n_concordant, t.n_discordant
         FROM ranked r JOIN tau t ON t.query_id = r.query_id
         ORDER BY r.rerank_rank""",

    "ir2_prf_expansion" ->
      """WITH docs AS (
           SELECT doc_id, string_split(text, ' ') AS ts,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
           FROM documents),
         tf AS (
           SELECT doc_id, dl,
                  CAST(len(list_filter(ts, x -> x = 'hash')) AS BIGINT) AS tf_hash,
                  CAST(len(list_filter(ts, x -> x = 'join')) AS BIGINT) AS tf_join,
                  CAST(len(list_filter(ts, x -> x = 'vector')) AS BIGINT) AS tf_vector
           FROM docs),
         stats AS (
           SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
                  SUM(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS df_hash,
                  SUM(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
                  SUM(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS df_vector
           FROM tf),
         top10 AS (
           SELECT t.doc_id
           FROM tf t CROSS JOIN stats s
           WHERE t.tf_hash + t.tf_join + t.tf_vector > 0
           ORDER BY
             (CAST(s.n_docs AS DOUBLE) - s.df_hash + 0.5) / (CAST(s.df_hash AS DOUBLE) + 0.5)
               * (CAST(t.tf_hash AS DOUBLE) * 2.2)
               / (CAST(t.tf_hash AS DOUBLE) + 1.2 * (0.25 + 0.75 * t.dl / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
           + (CAST(s.n_docs AS DOUBLE) - s.df_join + 0.5) / (CAST(s.df_join AS DOUBLE) + 0.5)
               * (CAST(t.tf_join AS DOUBLE) * 2.2)
               / (CAST(t.tf_join AS DOUBLE) + 1.2 * (0.25 + 0.75 * t.dl / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
           + (CAST(s.n_docs AS DOUBLE) - s.df_vector + 0.5) / (CAST(s.df_vector AS DOUBLE) + 0.5)
               * (CAST(t.tf_vector AS DOUBLE) * 2.2)
               / (CAST(t.tf_vector AS DOUBLE) + 1.2 * (0.25 + 0.75 * t.dl / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
             DESC, t.doc_id
           LIMIT 10),
         toks AS (
           SELECT doc_id, unnest(ts) AS term FROM docs),
         df_all AS (
           SELECT term, CAST(COUNT(*) AS BIGINT) AS df
           FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1),
         fb AS (
           SELECT tk.term, CAST(COUNT(*) AS BIGINT) AS fb_tf
           FROM toks tk JOIN top10 USING (doc_id) GROUP BY 1),
         n AS (SELECT COUNT(*) AS n_docs FROM documents)
         SELECT f.term, f.fb_tf, d.df,
                ROUND(f.fb_tf * ((CAST(n.n_docs AS DOUBLE) - d.df + 0.5)
                      / (CAST(d.df AS DOUBLE) + 0.5)) + 1e-9, 6) AS expansion_score
         FROM fb f JOIN df_all d ON d.term = f.term CROSS JOIN n
         WHERE f.term NOT IN ('hash', 'join', 'vector')
         ORDER BY expansion_score DESC, f.term
         LIMIT 10""",

    "g6_link_prediction" ->
      s"""WITH $duckMutualKnn,
          deg AS (SELECT src, COUNT(*) AS deg FROM mutual GROUP BY 1),
          cn AS (
            SELECT e1.src AS a, e2.src AS b, COUNT(*) AS cn
            FROM mutual e1 JOIN mutual e2 ON e1.dst = e2.dst AND e1.src < e2.src
            GROUP BY 1, 2),
          cand AS (
            SELECT c.* FROM cn c
            WHERE NOT EXISTS (SELECT 1 FROM mutual m
                              WHERE m.src = c.a AND m.dst = c.b))
          SELECT c.a AS vec_a, c.b AS vec_b, c.cn,
                 da.deg AS deg_a, db.deg AS deg_b,
                 ROUND(CAST(c.cn AS DOUBLE) / (da.deg + db.deg - c.cn) + 1e-9, 6)
                   AS cn_jaccard
          FROM cand c
          JOIN deg da ON da.src = c.a
          JOIN deg db ON db.src = c.b
          ORDER BY c.cn DESC, cn_jaccard DESC, vec_a, vec_b LIMIT 20""",

    "ts7_theil_sen" ->
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(ROUND(SUM(CAST("value" AS DECIMAL(30,8))), 4) AS DOUBLE) AS dv
           FROM events GROUP BY 1, 2),
         slopes AS (
           SELECT a.event_type, (b.dv - a.dv) / (b.day - a.day) AS slope
           FROM daily a JOIN daily b
             ON a.event_type = b.event_type AND a.day < b.day)
         SELECT event_type,
                CAST(COUNT(*) AS BIGINT) AS n_pairs,
                ROUND(quantile_disc(slope, 0.5) + 1e-9, 6) + 0.0 AS theil_sen_slope,
                CAST(SUM(CASE WHEN slope > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
                CAST(SUM(CASE WHEN slope < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_down
         FROM slopes GROUP BY 1 ORDER BY 1""",

    "sa14_randomized_response" ->
      """WITH rr AS (
           SELECT doc_id, lang,
                  CASE WHEN ('0x' || substr(md5('graft-rr-keep' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 100 < 75
                       THEN lang
                       ELSE ['de', 'en', 'es', 'fr', 'zh'][CAST(('0x' || substr(md5('graft-rr-pick' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 5 AS INTEGER) + 1]
                  END AS reported
           FROM documents),
         t AS (SELECT lang, COUNT(*) AS n_true FROM rr GROUP BY 1),
         r AS (SELECT reported AS lang, COUNT(*) AS n_reported FROM rr GROUP BY 1),
         tot AS (SELECT COUNT(*) AS n_total FROM rr)
         SELECT t.lang, t.n_true, r.n_reported,
                ROUND((CAST(r.n_reported AS DOUBLE) - tot.n_total * 0.05) / 0.75 + 1e-9, 4) + 0.0
                  AS debiased_estimate
         FROM t JOIN r ON t.lang = r.lang CROSS JOIN tot
         ORDER BY t.lang""",

    "emb4_standardize" ->
      """WITH iv AS (
           SELECT i - 1 AS dim,
                  CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS v6
           FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)),
         m AS (
           SELECT dim, COUNT(*) AS n, SUM(v6) AS s6,
                  SUM(CAST(v6 AS HUGEINT) * v6) AS s66
           FROM iv GROUP BY 1)
         SELECT m.dim, m.n,
                ROUND(CAST(m.s6 AS DOUBLE) / m.n / 1e6 + 1e-9, 6) + 0.0 AS mean_v,
                ROUND(SQRT((m.n * CAST(m.s66 AS DOUBLE) - CAST(m.s6 AS DOUBLE) * m.s6)
                           / (CAST(m.n AS DOUBLE) * (m.n - 1))) / 1e6 + 1e-9, 6) AS std_v,
                CAST(SUM(CASE WHEN CAST(m.n * iv.v6 - m.s6 AS HUGEINT)
                                   * (m.n * iv.v6 - m.s6) * (m.n - 1)
                                 > 4 * CAST(m.n AS HUGEINT)
                                   * (m.n * CAST(m.s66 AS HUGEINT) - CAST(m.s6 AS HUGEINT) * m.s6)
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         FROM iv JOIN m ON iv.dim = m.dim
         GROUP BY m.dim, m.n, m.s6, m.s66
         ORDER BY m.dim""",

    "emb5_matryoshka_eval" ->
      """WITH iv AS (
           SELECT vec_id, i - 1 AS dim,
                  CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS x
           FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)),
         dots AS (
           SELECT a.vec_id AS src, b.vec_id AS dst,
                  SUM(CASE WHEN a.dim < 8 THEN a.x * b.x ELSE 0 END) AS d8,
                  SUM(CASE WHEN a.dim < 16 THEN a.x * b.x ELSE 0 END) AS d16,
                  SUM(CASE WHEN a.dim < 32 THEN a.x * b.x ELSE 0 END) AS d32,
                  SUM(a.x * b.x) AS d64
           FROM iv a JOIN iv b ON a.dim = b.dim AND a.vec_id <> b.vec_id
           GROUP BY 1, 2),
         r8 AS (SELECT src, dst FROM (SELECT src, dst,
                  ROW_NUMBER() OVER (PARTITION BY src ORDER BY d8 DESC, dst) AS rn
                FROM dots) WHERE rn <= 5),
         r16 AS (SELECT src, dst FROM (SELECT src, dst,
                  ROW_NUMBER() OVER (PARTITION BY src ORDER BY d16 DESC, dst) AS rn
                FROM dots) WHERE rn <= 5),
         r32 AS (SELECT src, dst FROM (SELECT src, dst,
                  ROW_NUMBER() OVER (PARTITION BY src ORDER BY d32 DESC, dst) AS rn
                FROM dots) WHERE rn <= 5),
         r64 AS (SELECT src, dst FROM (SELECT src, dst,
                  ROW_NUMBER() OVER (PARTITION BY src ORDER BY d64 DESC, dst) AS rn
                FROM dots) WHERE rn <= 5),
         nn AS (SELECT COUNT(*) AS n_nodes FROM embeddings),
         kept AS (
           SELECT 8 AS prefix_dims, COUNT(*) AS n_kept
           FROM r8 JOIN r64 ON r8.src = r64.src AND r8.dst = r64.dst
           UNION ALL
           SELECT 16, COUNT(*) FROM r16 JOIN r64 ON r16.src = r64.src AND r16.dst = r64.dst
           UNION ALL
           SELECT 32, COUNT(*) FROM r32 JOIN r64 ON r32.src = r64.src AND r32.dst = r64.dst)
         SELECT CAST(prefix_dims AS BIGINT) AS prefix_dims,
                CAST(nn.n_nodes AS BIGINT) AS n_nodes,
                CAST(n_kept AS BIGINT) AS n_kept,
                ROUND(CAST(n_kept AS DOUBLE) / (nn.n_nodes * 5) + 1e-9, 6) AS recall_at_5
         FROM kept CROSS JOIN nn ORDER BY prefix_dims""",

    "emb6_binary_retrieval" ->
      s"""WITH $duckMutualKnn,
          packed AS (
            SELECT vec_id,
                   CAST(list_sum(list_transform(generate_series(0, 31),
                     k -> CASE WHEN CAST(embedding[CAST(k + 1 AS INTEGER)] AS DOUBLE) > 0
                               THEN (CAST(1 AS BIGINT) << CAST(k AS INTEGER))
                               ELSE 0 END)) AS BIGINT) AS w0,
                   CAST(list_sum(list_transform(generate_series(32, 63),
                     k -> CASE WHEN CAST(embedding[CAST(k + 1 AS INTEGER)] AS DOUBLE) > 0
                               THEN (CAST(1 AS BIGINT) << CAST(k - 32 AS INTEGER))
                               ELSE 0 END)) AS BIGINT) AS w1
            FROM embeddings),
          ham AS (
            SELECT a.vec_id AS src, b.vec_id AS dst,
                   CAST(bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) AS BIGINT) AS hd
            FROM packed a JOIN packed b ON a.vec_id <> b.vec_id),
          rkh AS (
            SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src ORDER BY hd, dst) AS rn
            FROM ham),
          htop AS (SELECT src, dst FROM rkh WHERE rn <= 5),
          nn AS (SELECT COUNT(*) AS n_nodes FROM embeddings),
          kept AS (
            SELECT COUNT(*) AS n_kept
            FROM htop h JOIN knn f ON f.src = h.src AND f.dst = h.dst)
          SELECT CAST(64 AS BIGINT) AS code_bits,
                 CAST(nn.n_nodes AS BIGINT) AS n_nodes,
                 CAST(kept.n_kept AS BIGINT) AS n_kept,
                 ROUND(CAST(kept.n_kept AS DOUBLE) / (nn.n_nodes * 5) + 1e-9, 6)
                   AS recall_at_5,
                 CAST(32 AS BIGINT) AS compression_x
          FROM nn CROSS JOIN kept""",

    "sim10_knn_graph" ->
      s"""WITH $duckMutualKnn,
         lab AS (SELECT vec_id, label FROM embeddings),
         nodes AS (SELECT label, COUNT(*) AS n_nodes FROM lab GROUP BY 1),
         census AS (
           SELECT ls.label,
                  COUNT(*) AS mutual_edges,
                  SUM(CASE WHEN ls.label = ld.label THEN 1 ELSE 0 END) AS within_label
           FROM mutual m
           JOIN lab ls ON ls.vec_id = m.src
           JOIN lab ld ON ld.vec_id = m.dst
           GROUP BY 1)
         SELECT c.label, n.n_nodes,
                CAST(c.mutual_edges AS BIGINT) AS mutual_edges,
                CAST(c.within_label AS BIGINT) AS within_label,
                ROUND(CAST(c.within_label AS DOUBLE) / c.mutual_edges + 1e-9, 6)
                  AS homophily
         FROM census c JOIN nodes n ON n.label = c.label
         ORDER BY c.label""",

    // SIM13: same mutual-kNN CTE; the majority vote is a rank-1 window
    // under the identical (votes DESC, label ASC) total order.
    "sim13_label_spread" ->
      s"""WITH $duckMutualKnn,
         lab AS (SELECT vec_id, label FROM embeddings),
         votes AS (
           SELECT m.src, ls.label AS true_label, ld.label AS nbr_label,
                  COUNT(*) AS n
           FROM mutual m
           JOIN lab ls ON ls.vec_id = m.src AND ls.vec_id % 5 = 0
           JOIN lab ld ON ld.vec_id = m.dst AND ld.vec_id % 5 <> 0
           GROUP BY 1, 2, 3),
         ranked AS (
           SELECT src, true_label, nbr_label, n,
                  ROW_NUMBER() OVER (PARTITION BY src
                    ORDER BY n DESC, nbr_label) AS rn,
                  CAST(SUM(n) OVER (PARTITION BY src) AS BIGINT) AS total_votes
           FROM votes)
         SELECT src AS vec_id, nbr_label AS pred_label,
                CAST(n AS BIGINT) AS n_votes, total_votes, true_label,
                (nbr_label = true_label) AS correct
         FROM ranked WHERE rn = 1 ORDER BY src""")
}
