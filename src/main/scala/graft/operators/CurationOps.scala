package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Exact.{davg, dsum, dsumOver}

/** Round-5 curation + layout pack: the dataset-preparation operators a
  * training-data pipeline reaches for once dedup/sampling are in place —
  * TF-IDF term salience, SCD-2 range joins re-expressed as chunk-aligned
  * equi joins, one-pass column profiling, deterministic negative-pair
  * mining, equal-count decile banding, Z-order layout keys, and
  * distribution-drift scoring between cohorts.
  *
  * All numeric output follows the repo's cross-engine conventions
  * (graft.functions.Exact): additive aggregates via exact decimal sums,
  * ratios as IEEE ops on bit-identical inputs, no libm transcendentals in
  * hash-gated columns (ln/exp differ by ulps across engines — see tx6's
  * integer-scaled LM for the precedent).
  */
object CurationOps extends graft.QueryFamily {
  private[graft] val JACCARD_T = 0.5
  private[graft] val CONTAIN_T = 0.6

  /** dd17's candidate pairs. dd15's keep condition
    * (c(A→B) >= t OR c(B→A) >= t) is exactly inter >= t * min(|A|, |B|),
    * i.e. the SMALLER side's containment clears the threshold. So for every
    * qualifying pair the smaller doc S has |S∩B| >= ceil(t*|S|), which
    * forces at least one intersection element into S's first
    * |S| - ceil(t*|S|) + 1 shingles under the canonical (df, sh) order —
    * and the globally-first common element in particular (it has the
    * minimal rank among intersection elements in BOTH docs). Candidates
    * therefore come from joining the smaller side's PREFIX against the
    * larger side's FULL stream (containment constrains only the prefix
    * side's denominator — the larger doc gets no prefix of its own), with
    * PPJoin's positional bound applied per match: at ranks (ra, rb) the
    * intersection can't exceed min(ma - ra, mb - rb) + 1, which is valid at
    * the first common element and only over-prunes later ones. */
  private[graft] def containmentCandidates(s: SparkSession, d: String): DataFrame = {
    // Prefix-vs-full stream EQUI JOIN on the shingle key. An earlier cut
    // built per-shingle occurrence arrays and expanded pairs with nested
    // `transform` lambdas — but Spark evaluates higher-order functions on
    // the interpreted path (no whole-stage codegen), and that expansion
    // dominated the query (~1.6× slower end-to-end at sf0.1). The ranked
    // stream is persisted, so the join's two sides are two cheap reads of
    // the same cached data, and the join + positional filter + distinct
    // stay entirely inside codegen. Both shapes are one shuffle per side
    // on `sh`; at 100 TB the join additionally gets AQE skew splitting,
    // which the array shape forfeits (a hot shingle's bucket lands on one
    // task as a single giant array).
    val r = rankedShingles(s, d)
    val pref = r
      .filter(col("rk") <= col("m") - ceil(col("m") * CONTAIN_T) + 1)
      .select(col("sh"), col("doc_id").as("small"), col("rk").as("ra"), col("m").as("ma"))
    val full = r
      .select(col("sh"), col("doc_id").as("big"), col("rk").as("rb"), col("m").as("mb"))
    pref.join(full, Seq("sh"))
      .filter(col("ma") < col("mb") || (col("ma") === col("mb") && col("small") < col("big")))
      .filter(least(col("ma") - col("ra"), col("mb") - col("rb")) + 1 >=
        ceil(col("ma") * CONTAIN_T))
      .select(col("small"), col("big"))
      .distinct()
  }

  /** dd16's prefix stream: each document's first |A| - ceil(t*|A|) + 1
    * shingles under the document-frequency-ASCENDING canonical order
    * (PPJoin's ordering — ties broken by shingle), as (doc_id, sh) rows.
    * No per-doc arrays anywhere: the prefix membership test is a rank
    * (one window partitioned by doc) against the doc's size, and the
    * shingle-frequency table is small enough to broadcast. Word-level
    * tokens are useless here — this corpus has ~30 distinct words, so
    * every prefix bucket would hold most of the corpus; shingle diversity
    * is what makes the prefix selective. */
  /** dd16's shingle stream with each shingle collapsed to a 64-bit hash:
    * every downstream sort, shuffle and join compares longs instead of
    * ~30-char strings. A hash collision would merge two shingles
    * corpus-wide (P ~ |shingles|²/2⁶⁵ ≈ 1e-11 here) — the oracle would
    * catch it, which is the right failure mode for a correctness gate. */
  private[graft] def hashedShingles(s: SparkSession, d: String): DataFrame =
    graft.ops.DedupOps.shingles(s, d)
      .select(col("doc_id"), xxhash64(col("sh")).as("sh"))

  private val rankedCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Every shingle of every doc with its rank under the df-ascending
    * canonical order and the doc's shingle count — the shared basis of the
    * dd16 (Jaccard) and dd17 (containment) prefix filters. Memoized and
    * persisted per (session, dir) like DedupOps.shinglesCache: the ranking
    * pass (df join + per-doc window) is identical for both consumers, and
    * the suite methodology times warmed runs on both engines. */
  private[graft] def rankedShingles(s: SparkSession, d: String): DataFrame =
    rankedCache.computeIfAbsent((s, d), { _ =>
      val sh = hashedShingles(s, d)
      val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      // per-SHINGLE document-frequency table: no broadcast hint (r11
      // verdict item 3's size class — AQE broadcasts while small, shuffles
      // at corpus scale)
      sh.join(dfreq, Seq("sh"))
        .withColumn("rk", row_number().over(wDoc.orderBy("df", "sh")))
        .withColumn("m", count(lit(1)).over(wDoc))
        .select("doc_id", "sh", "rk", "m")
        .persist()
    })

  private[graft] def shinglePrefix(s: SparkSession, d: String): DataFrame =
    rankedShingles(s, d)
      .filter(col("rk") <= col("m") - ceil(col("m") * JACCARD_T) + 1)

  private val arrCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Per-document sorted array of hashed shingles + its size — the verify
    * side of the prefix joins. A document's shingle set is bounded (~m
    * longs, a few hundred bytes), so the whole doc→array dimension is
    * megabytes per million documents and BROADCASTS; the exact
    * intersection then runs scan-local over the candidate pairs
    * (`array_intersect` on two short long-arrays) with no shuffle at all
    * after candidate generation. The earlier stream-rejoin verify
    * (cand ⋈ shingles ⋈ shingles, 3 exchanges of |cand|·m rows) is the
    * fallback shape if documents were unbounded — at this corpus's ~52
    * shingles/doc it benched 2.5 s vs 0.9 s for this form at sf0.1. At
    * true 100 TB the broadcast becomes two hash joins on doc_id (linear,
    * bounded-width rows) — the plan degrades gracefully, it does not
    * explode. */
  /** dd16's verified exact-Jaccard pair stream (unordered) — shared with
    * dd20's provenance matrix. Candidate pairs from a prefix-stream
    * SELF-JOIN on the shingle key (codegen'd end to end — see
    * containmentCandidates for why the array-comprehension shape loses),
    * with PPJoin's POSITIONAL filter before any verification: at the
    * smallest common element (ranks rk_a, rk_b), the overlap can't exceed
    * min(m_a - rk_a, m_b - rk_b) + 1, while J >= t needs at least
    * ceil(t/(1+t) * (m_a + m_b)) — for t = 1/2, 3*bound >= m_a + m_b.
    * Without it every medium-similarity pair sharing one rare shingle
    * reaches the verify stage (~300k candidates: benched 4.1 s; with it
    * ~1 s). Exact verify via broadcast doc→sorted-hash-array +
    * array_intersect: scan-local over the candidates, zero post-candidate
    * shuffles (see docShingleArrays for the scale rationale). */
  /** Memoized per (session, dataset) like DedupOps' staged-pipeline caches:
    * the verified pair stream is a stage OUTPUT consumed by four operators
    * (dd16 report, dd20 provenance, dd21 funnel, dd24 cross-modal verify) —
    * in a staged dedup pipeline it is persisted once, not regenerated per
    * consumer. dd24 alone reads it three times (candidate-id semi-join
    * feed + both broadcast attach branches); without the cache each read
    * re-runs the full prefix self-join. */
  private val jaccardPairsCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private[graft] def jaccardPairs(s: SparkSession, d: String): DataFrame =
    jaccardPairsCache.computeIfAbsent((s, d), { _ => jaccardPairsUncached(s, d).localCheckpoint() })

  private def jaccardPairsUncached(s: SparkSession, d: String): DataFrame = {
    val p = shinglePrefix(s, d)
    val lhs = p.select(col("sh"), col("doc_id").as("da"),
      col("rk").as("ra"), col("m").as("ma"))
    val rhs = p.select(col("sh"), col("doc_id").as("db"),
      col("rk").as("rb"), col("m").as("mb"))
    val cand = lhs.join(rhs, Seq("sh"))
      .filter(col("da") < col("db"))
      .filter((least(col("ma") - col("ra"), col("mb") - col("rb")) + 1) * 3 >=
        col("ma") + col("mb"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"))
      .distinct()
    val arrs = docShingleArrays(s, d)
    // per-document array table: no broadcast hint (rankedShingles' note)
    cand
      .join(arrs.select(col("doc_id").as("doc_a"),
        col("arr").as("arr_a"), col("m").as("na")), Seq("doc_a"))
      .join(arrs.select(col("doc_id").as("doc_b"),
        col("arr").as("arr_b"), col("m").as("nb")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("arr_a"), col("arr_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= JACCARD_T)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))
  }

  private[graft] def docShingleArrays(s: SparkSession, d: String): DataFrame =
    arrCache.computeIfAbsent((s, d), { _ =>
      hashedShingles(s, d)
        .groupBy("doc_id")
        .agg(sort_array(collect_list(col("sh"))).as("arr"),
          count(lit(1)).as("m"))
        .persist()
    })

  /** j18's build side: customers of one nation — a bounded, selective key
    * set (the shape a dimension predicate produces). */
  private[graft] def bloomKeys(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).filter(col("c_nationkey") === 3)
      .select(col("c_custkey").as("k"))

  /** j18's probe: orders rows surviving the 4096-bit / 3-hash bloom built
    * from [[bloomKeys]]. The bloom folds to ONE ROW of 64 longs (bit_or per
    * word → dense array), broadcast to every probe task, so the probe is a
    * scan-local filter: no explode, no exchange, bounded fan-out. Exposed
    * for CurationSpec's false-positive-rate assertion. */
  private[graft] def bloomCandidates(s: SparkSession, d: String): DataFrame = {
    val M = 4096L
    val words = bloomKeys(s, d)
      .select(explode(array(lit(1), lit(2), lit(3))).as("seed"), col("k"))
      .withColumn("pos", pmod(xxhash64(col("k"), col("seed")), lit(M)))
      .select((col("pos") / 64L).cast("long").as("word"),
        expr("shiftleft(1L, cast(pos % 64 as int))").as("bit"))
      .groupBy("word").agg(expr("bit_or(bit)").as("bits"))
    val bloom = words
      .agg(map_from_entries(collect_list(struct(col("word"), col("bits")))).as("wm"))
      .select(expr("transform(sequence(0L, 63L), w -> coalesce(element_at(wm, w), 0L))")
        .as("warr"))
    def mightContain(key: String, seed: Int): org.apache.spark.sql.Column =
      expr(s"element_at(warr, cast(pmod(xxhash64($key, $seed), $M) / 64 as int) + 1) " +
        s"& shiftleft(1L, cast(pmod(xxhash64($key, $seed), $M) % 64 as int))") =!= 0L
    Tables.orders(s, d)
      .crossJoin(broadcast(bloom))
      .filter(mightContain("o_custkey", 1) && mightContain("o_custkey", 2) &&
        mightContain("o_custkey", 3))
  }

  val queries: Map[String, Q] = Map(
    // TX13: TF-IDF top terms per document. tf from one explode+groupBy,
    // df from a re-agg of tf (no second scan), corpus size as a 1-row
    // broadcast. idf is the SMOOTHED RATIO (N+1)/(df+1) — log-free, so the
    // score is a product/quotient of integers: IEEE-exact and identical in
    // both engines (ln is libm-dependent; the log is monotone in the ratio
    // anyway for fixed tf, and the gate's point is the dataflow). Top-3 by
    // (score desc, term) via rank, the same shuffle shape W7 optimizes.
    "tx13_tfidf_topterms" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val tf = docs
        .select(col("doc_id"), explode(split(lower(col("text")), "[^a-z]+")).as("term"))
        .filter(length(col("term")) >= 3)
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, Seq("term"))
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          col("tf") * (col("n_docs") + lit(1.0)) / (col("df") + lit(1.0)))
      val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk").cast("long").as("rk"), col("term"),
          col("tf"), round(col("tfidf"), 4).as("tfidf"))
        .orderBy("doc_id", "rk")
    },

    // J16: SCD-2 range join — orders priced against a fee schedule with
    // NON-calendar-aligned validity windows (30/45/60-day periods), the
    // shape BETWEEN-joins take when dimensions are slowly changing. Spark
    // has no native range-join optimization, and a raw non-equi join plans
    // as BroadcastNestedLoopJoin (per-row interval scan). The scale path
    // used here: window boundaries are multiples of a 15-day chunk, so each
    // dim row EXPLODES to the chunks it covers and the join becomes a plain
    // equi join on chunk id — hash-partitioned, AQE-sizable, no NLJ. The
    // oracle states the same semantics as a BETWEEN range join.
    "j16_scd2_range_join" -> { (s, d) =>
      val orders = Tables.orders(s, d)
      val span = orders.agg(
        min(to_date(col("o_orderdate"))).as("d0"),
        max(to_date(col("o_orderdate"))).as("d1"))
      // period k starts at offset(k) = (k div 3)*135 + [0,30,75][k mod 3]
      // days after d0 (cycle of 30+45+60 = 135 days); rate = 1 + (k%7)/100.
      val offs = "CASE (%s) %% 3 WHEN 0 THEN ((%s) div 3) * 135 WHEN 1 THEN ((%s) div 3) * 135 + 30 ELSE ((%s) div 3) * 135 + 75 END"
      val dim = span
        .select(col("d0"),
          explode(expr("sequence(0, (datediff(d1, d0) div 135 + 2) * 3)")).as("k"))
        .withColumn("off0", expr(offs.format("k", "k", "k", "k")))
        .withColumn("off1", expr(offs.format("k+1", "k+1", "k+1", "k+1")))
        .withColumn("valid_from", expr("date_add(d0, cast(off0 as int))"))
        .withColumn("valid_to", expr("date_add(d0, cast(off1 as int))"))
        .withColumn("rate", lit(1.0) + (col("k") % 7).cast("double") * lit(0.01))
        .withColumn("chunk", explode(expr("sequence(off0 div 15, off1 div 15 - 1)")))
        .select("k", "valid_from", "valid_to", "rate", "chunk")
      val fact = orders
        .crossJoin(broadcast(span.select(col("d0").as("f_d0"))))
        .withColumn("od", to_date(col("o_orderdate")))
        .withColumn("chunk", expr("datediff(od, f_d0) div 15"))
      fact.join(broadcast(dim), Seq("chunk"))
        .groupBy(col("k").as("period_id"), col("valid_from"), col("valid_to"), col("rate"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice") * col("rate")).as("adj_revenue"))
        .orderBy("period_id")
    },

    // S14: column profiler over orders — null count, exact distinct count,
    // typed min/max per column, emitted long-form. One aggregate PER COLUMN
    // (union-assembled, each a single-distinct two-phase hash agg), not one
    // aggregate with six COUNT(DISTINCT)s: Spark plans multi-distinct
    // through Expand (rows × #distinct-aggs — benched 2.4 s vs 0.3 s here),
    // and the per-column branches scan the cached table in parallel anyway.
    // At 100 TB swap the exact distincts for a13's HLL sketches and keep
    // the pass shape. Dates profile as days-since-epoch (integer,
    // engine-neutral); strings keep binary collation min/max.
    "s14_column_profile" -> { (s, d) =>
      val o = Tables.orders(s, d)
        .withColumn("od_days", datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date")))
      val num = Seq("o_orderkey", "o_custkey", "o_totalprice", "od_days")
      val str = Seq("o_orderstatus", "o_orderpriority")
      val profiles =
        num.map(c => o.agg(
          sum(col(c).isNull.cast("long")).as("n_nulls"),
          countDistinct(col(c)).as("n_distinct"),
          round(min(col(c)).cast("double"), 4).as("min_num"),
          round(max(col(c)).cast("double"), 4).as("max_num"))
          .select(lit(c).as("column_name"), col("n_nulls"), col("n_distinct"),
            col("min_num"), col("max_num"),
            lit(null).cast("string").as("min_str"), lit(null).cast("string").as("max_str"))) ++
        str.map(c => o.agg(
          sum(col(c).isNull.cast("long")).as("n_nulls"),
          countDistinct(col(c)).as("n_distinct"),
          min(col(c)).as("min_str"),
          max(col(c)).as("max_str"))
          .select(lit(c).as("column_name"), col("n_nulls"), col("n_distinct"),
            lit(null).cast("double").as("min_num"), lit(null).cast("double").as("max_num"),
            col("min_str"), col("max_str")))
      profiles.reduce(_ unionByName _).orderBy("column_name")
    },

    // SA7: deterministic negative-pair mining for contrastive training —
    // each anchor doc draws 2 pseudo-random partners via an LCG over the id
    // space (constants 48271/7919: MINSTD multiplier, a prime stride), so
    // the pairing is reproducible across runs AND engines with no RNG. The
    // id-space modulus is a 1-row broadcast (max+1), the partner fetch is a
    // plain equi join on the derived key. Self-pairs are dropped; the gate
    // aggregates the pair matrix by (anchor_lang, partner_lang) with an id
    // checksum so any pairing drift flips the hash.
    "sa7_negative_pairs" -> { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "lang")
      val mx = docs.agg((max(col("doc_id")) + 1L).as("id_mod"))
      val drawn = docs.crossJoin(broadcast(mx))
        .select(col("doc_id").as("anchor_id"), col("lang").as("anchor_lang"),
          col("id_mod"), explode(array(lit(1L), lit(2L))).as("j"))
        .withColumn("neg_id",
          pmod(col("anchor_id") * lit(48271L) + col("j") * lit(7919L) + lit(11L),
            col("id_mod")))
        .filter(col("neg_id") =!= col("anchor_id"))
      drawn.join(docs.select(col("doc_id").as("neg_id"), col("lang").as("neg_lang")),
          Seq("neg_id"))
        .groupBy("anchor_lang", "neg_lang")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("anchor_id") * lit(3L) + col("neg_id")).as("pair_checksum"))
        .orderBy("anchor_lang", "neg_lang")
    },

    // W14: NTILE equal-count banding — order values cut into 10 deciles on
    // a TOTAL order (price, orderkey tiebreak) so band assignment is
    // deterministic. A global NTILE windows over a single partition — the
    // honest cost of exact equal-count bands; at 100 TB cut instead on
    // quantile fences from a distributed percentile pass (a2/qc_outlier's
    // shape) and accept boundary-tie drift, or range-partition by the sort
    // key and offset per-partition row numbers.
    "w14_ntile_deciles" -> { (s, d) =>
      val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("decile", ntile(10).over(w).cast("long"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_orders"),
          round(min(col("o_totalprice")), 4).as("min_price"),
          round(max(col("o_totalprice")), 4).as("max_price"),
          davg(col("o_totalprice")).as("avg_price"))
        .orderBy("decile")
    },

    // W16: w14's scale path — decile banding from DISTRIBUTED quantile
    // fences instead of a global NTILE. Since r12 the nine type-7 fences
    // come from ONE QuantileRefine 18-rank batch (rl/rh element pairs at
    // 0-indexed position (n−1)k/10, exact integer DIV/MOD arithmetic, then
    // fence = v_l + (v_h − v_l)·(rem/10)) — the previous single
    // percentile(array(...)) aggregate merged a full value-count map in
    // its one final task, the same bound class QuantileRefine retired for
    // w12/a18/a26/a27. The fence frame broadcasts, band assignment is a
    // per-row projection — nothing anywhere is single-partition over
    // corpus-sized data.
    // Interpolated fences stay hash-gateable HERE (unlike a2's outputs)
    // because they are never emitted, only compared: a fence at position
    // (n-1)*q is either exactly a data element (rem = 0 → rl = rh, no
    // interpolation at all) or strictly between two adjacent elements,
    // where last-ulp drift — including the ulp-level difference between
    // this reconstruction and the built-in's running interpolation —
    // cannot flip any `value < fence` comparison.
    // The tradeoff vs w14 is equal-count exactness: rows tied AT a fence
    // all land in the lower band, so bands near mass points deviate from
    // n/10 — deterministically on both engines.
    "w16_decile_fences" -> { (s, d) =>
      val orders = Tables.orders(s, d)
      val rows = orders.select(lit(1).as("g"),
        col("o_totalprice").as("v"), lit(1L).as("c"))
      val specs = (1 to 9).flatMap { k =>
        Seq(
          s"l$k" -> s"((n - 1) * $k) DIV 10 + 1",
          s"h$k" -> (s"((n - 1) * $k) DIV 10 + 1 + " +
            s"(CASE WHEN ((n - 1) * $k) % 10 > 0 THEN 1 ELSE 0 END)"))
      }
      val at = QuantileRefine.atRankExprs(rows, Seq("g"), specs)
      def pick(r: String) = max(when(col("rid") === r, col("v")))
      val wide = at.groupBy("g").agg(max(col("n")).as("n"),
        (1 to 9).flatMap(k =>
          Seq(pick(s"l$k").as(s"l$k"), pick(s"h$k").as(s"h$k"))): _*)
      val fences = wide.select(col("g"), array((1 to 9).map { k =>
        col(s"l$k") + (col(s"h$k") - col(s"l$k")) *
          (((col("n") - 1) * k % 10).cast("double") / 10.0)
      }: _*).as("fs"))
      orders.withColumn("g", lit(1))
        .join(broadcast(fences), "g")
        .withColumn("decile",
          (lit(1) + size(expr("filter(fs, x -> x < o_totalprice)"))).cast("long"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_orders"),
          round(min(col("o_totalprice")), 4).as("min_price"),
          round(max(col("o_totalprice")), 4).as("max_price"),
          davg(col("o_totalprice")).as("avg_price"))
        .orderBy("decile")
    },

    // S15: Z-order (Morton) layout key — interleave the low 8 bits of two
    // cluster-prone dimensions so lexicographic ranges of the key are 2-D
    // tiles, the layout that lets min/max zone maps skip files on EITHER
    // predicate column. The gate proves the locality contract in data: each
    // 1024-key bucket (a 32×32 tile) has a bounding box bounded by the tile,
    // which a linear concatenation (custkey<<8 | orderkey-bits) cannot
    // achieve on the second column. CurationSpec asserts the file-level
    // consequence: repartitionByRange on z yields per-partition bounding
    // boxes ~tile-sized vs hash layout's full-range boxes.
    "s15_zorder_key" -> { (s, d) =>
      val o = Tables.orders(s, d)
        .withColumn("x", pmod(col("o_custkey"), lit(256L)))
        .withColumn("y", pmod(col("o_orderkey"), lit(256L)))
      val z = (0 until 8).map { i =>
        shiftleft(shiftright(col("x"), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(col("y"), i).bitwiseAND(lit(1L)), 2 * i + 1)
      }.reduce(_ + _)
      o.withColumn("z", z)
        .groupBy((col("z") / 1024L).cast("long").as("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"),
          ((max(col("x")) - min(col("x")) + 1L) *
           (max(col("y")) - min(col("y")) + 1L)).as("bbox_area"))
        .orderBy("zbucket")
    },

    // J17: fact-to-fact interval (band) join — "purchases by the same user
    // within 1 hour after a click", the attribution-window shape. Spark
    // plans a raw (user, t2 BETWEEN t1 AND t1+1h) join as equi-on-user plus
    // a residual filter, which degenerates when one user dominates; the
    // scale form here buckets time into window-width chunks and EXPLODES
    // the left side to (bucket, bucket+1), making the join key (user,
    // bucket) — bounded fan-out (2×), shuffle partitioned on both
    // dimensions, never the per-user cross product. Each (click, purchase)
    // pair meets in exactly one bucket (the purchase's own), so no dedup
    // pass is needed. Delays stay integer microseconds end to end — the
    // gate is float-free.
    "j17_interval_join" -> { (s, d) =>
      val HOUR_US = 3600L * 1000000L
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          expr("unix_micros(ts)").as("t_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("t_us").as("t1"),
          explode(array((col("t_us") / HOUR_US).cast("long"),
            (col("t_us") / HOUR_US).cast("long") + 1L)).as("bucket"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("t_us").as("t2"),
          (col("t_us") / HOUR_US).cast("long").as("bucket"))
      clicks.join(purchases, Seq("user_id", "bucket"))
        .filter(col("t2") > col("t1") && col("t2") <= col("t1") + HOUR_US)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("t2") - col("t1")).as("total_delay_us"),
          min(col("t2") - col("t1")).as("min_delay_us"),
          max(col("t2") - col("t1")).as("max_delay_us"))
        .orderBy("user_id")
    },

    // J18: bloom-filter semi join — the 100 TB pre-filter that drops
    // non-matching fact rows AT THE SCAN, before any exchange. The build
    // side (customers of one nation) folds into a 4096-bit / 3-hash bloom
    // as ONE ROW holding 64 longs (bit_or per word, then a dense array),
    // broadcast to every probe task; the probe is a scan-local filter — no
    // explode, no shuffle — followed by the exact semi join over the ~25×
    // smaller candidate set, so false positives cannot reach the result
    // (output ≡ the plain semi join the oracle states). At real scale this
    // is what Spark's runtime row-group/bloom filters automate; stated
    // explicitly here so the shape is auditable.
    "j18_bloom_semi" -> { (s, d) =>
      bloomCandidates(s, d)
        .join(broadcast(bloomKeys(s, d)), col("o_custkey") === col("k"), "left_semi")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_orderkey")).as("orderkey_checksum"),
          countDistinct(col("o_custkey")).as("n_customers"))
    },

    // W15: exponentially-weighted moving average, half-life decay — the
    // recurrence ewma_n = x_n + ewma_{n-1}/2 that SQL windows cannot state
    // (no recursive aggregates). The Spark shape is the classic secondary
    // sort: hash-repartition by user, sortWithinPartitions by (user, ts,
    // id), then ONE sequential pass per partition streaming users back to
    // back — no per-group materialization, scales to any user's history.
    // alpha = 1/2 on purpose: multiplying a double by 0.5 is exact (exponent
    // decrement), so each step is a single correctly-rounded add and the
    // whole trajectory is bit-identical to the oracle's recursive CTE.
    "w15_ewma_decay" -> { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
        // micros, not a seconds cast: the sort key must replicate DuckDB's
        // micro-resolution ORDER BY ts or same-second events walk in a
        // different order and the recurrence diverges
        .select(col("user_id"), expr("unix_micros(ts)").as("ts_us"),
          col("event_id"), col("value"))
        .as[(Long, Long, Long, Double)]
      val walked = ev
        .repartition(col("user_id"))
        .sortWithinPartitions(col("user_id"), col("ts_us"), col("event_id"))
        .mapPartitions { it =>
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          var cur = 0L; var ewma = 0.0; var n = 0L; var open = false
          def flush(): Unit = if (open) out += ((cur, n, ewma))
          it.foreach { case (u, _, _, v) =>
            if (!open || u != cur) { flush(); cur = u; ewma = 0.0; n = 0L; open = true }
            ewma = v + 0.5 * ewma
            n += 1
          }
          flush()
          out.iterator
        }
      walked.toDF("user_id", "n_events", "ewma_final")
        .select(col("user_id"), col("n_events"),
          round(col("ewma_final") + lit(1e-9), 6).as("ewma_final"))
        .orderBy("user_id")
    },

    // U6: snapshot diff — the "what changed in this refresh" audit between
    // two corpus versions (v2 simulated deterministically: every 3rd doc's
    // content revised, every 17th doc dropped). One full-outer join on the
    // key comparing content hashes; statuses aggregate with id checksums so
    // any misclassification flips the gate hash. The incremental twin of
    // u5's priority union.
    "u6_snapshot_diff" -> { (s, d) =>
      val v1 = Tables.documents(s, d)
        .select(col("doc_id").as("id1"), md5(col("text")).as("md5_1"))
      val v2 = Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(17)) =!= 1)
        .select(col("doc_id").as("id2"),
          when(pmod(col("doc_id"), lit(3)) === 0, md5(concat(col("text"), lit(" v2"))))
            .otherwise(md5(col("text"))).as("md5_2"))
      v1.join(v2, col("id1") === col("id2"), "full_outer")
        .select(
          when(col("id2").isNull, "removed")
            .when(col("id1").isNull, "added")
            .when(col("md5_1") =!= col("md5_2"), "changed")
            .otherwise("unchanged").as("status"),
          coalesce(col("id1"), col("id2")).as("doc_id"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_checksum"))
        .orderBy("status")
    },

    // DD21: the staged DEDUP FUNNEL — production dedup runs cheapest-first
    // (exact fingerprint, linear) and only sends the survivors to the
    // expensive near-dup stage (prefix-pruned Jaccard), so the attribution
    // "which stage caught each document" is the funnel's operating metric:
    // it prices the near-dup stage's remaining workload and catches
    // regressions where a broken cheap stage silently shifts load
    // downstream. Statuses: exact_dup (same bag fingerprint as an earlier
    // doc), near_dup (not exact, but Jaccard >= t against ANY smaller
    // doc_id — partner status irrelevant, keeping the rule one join
    // deep and engine-independent), kept otherwise. Both stages reuse
    // the shared machinery (bagFingerprint, jaccardPairs); the id
    // checksum pins the exact per-doc attribution.
    "dd21_dedup_funnel" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), graft.ops.TextOps.bagFingerprint.as("fp"))
      val firstFp = docs.groupBy("fp").agg(min(col("doc_id")).as("first_id"))
      // per-distinct-fingerprint table (~per-document): no broadcast hint
      val exact = docs.join(firstFp, Seq("fp"))
        .select(col("doc_id"), (col("doc_id") > col("first_id")).as("is_exact"))
      val nearIds = jaccardPairs(s, d)
        .select(col("doc_b").as("doc_id")).distinct()
        .withColumn("has_near", lit(true))
      exact.join(nearIds, Seq("doc_id"), "left")
        .withColumn("status",
          when(col("is_exact"), "exact_dup")
            .when(coalesce(col("has_near"), lit(false)), "near_dup")
            .otherwise("kept"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_checksum"))
        .orderBy("status")
    },

    // U7: INCREMENTAL aggregate maintenance — the materialized-view
    // refresh discipline that makes a 100 TB warehouse affordable: never
    // recompute the world, merge the standing partial aggregates with the
    // delta batch's partials. Only MERGEABLE state is kept (count + exact
    // decimal sum; avg/ratios derive at read time), and the display
    // rounding happens ONCE, after the merge — rounding partials first
    // would make the incremental path diverge from a recompute. The gate's
    // oracle IS the from-scratch recompute over the full table, so the
    // merge-equals-rebuild contract is what the hash checks. Base = 90%
    // of orders, delta = the orderkey%10 batch, mirroring dd19's
    // batch-vs-corpus split.
    "u7_incremental_refresh" -> { (s, d) =>
      val o = Tables.orders(s, d)
        .withColumn("mon", month(col("o_orderdate")))
      def partials(df: DataFrame): DataFrame =
        df.groupBy("o_orderpriority", "mon")
          .agg(count(lit(1)).as("pn"),
            sum(expr("CAST(o_totalprice AS DECIMAL(30,8))")).as("prev"))
      val base = partials(o.filter(pmod(col("o_orderkey"), lit(10)) =!= 0))
      val delta = partials(o.filter(pmod(col("o_orderkey"), lit(10)) === 0))
      base.unionByName(delta)
        .groupBy("o_orderpriority", "mon")
        .agg(sum(col("pn")).as("n_orders"),
          round(sum(col("prev")), 4).cast("double").as("revenue"))
        .withColumn("avg_price", col("revenue") / col("n_orders"))
        .orderBy("o_orderpriority", "mon")
    },

    // DD16: prefix-filtered Jaccard join (PPJoin's lossless pruning, Xiao
    // et al. WWW'08) over dd4's shingle space — the scale path for dd4's
    // generate-all-co-occurring-pairs baseline. Under any FIXED global
    // shingle order, two sets with J(A,B) >= t must share an element within
    // each set's first |A| - ceil(t*|A|) + 1 elements, so candidate pairs
    // generate from the PREFIX shingles only. The global order MUST be
    // document-frequency-ASCENDING (PPJoin's canonical order): prefixes
    // then hold each doc's RAREST shingles and candidate buckets stay tiny
    // (a lexicographic order is equally lossless but front-loads common
    // elements — benched 116 s vs ~1 s at sf0.1). Exact verification on the
    // surviving candidates makes the filter invisible in the result: the
    // oracle is the naive all-pairs join.
    "dd16_prefix_jaccard" -> { (s, d) =>
      jaccardPairs(s, d).orderBy("doc_a", "doc_b")
    },

    // DD20: cross-SOURCE near-duplicate overlap matrix — the provenance
    // audit run before mixing corpora: how much of source A is already in
    // source B? (Heavy off-diagonal mass means the mixture's effective
    // token count is lower than its row count, and dedup must run ACROSS
    // the sources, not within them.) Reuses dd16's verified Jaccard >= t
    // pair stream; the doc→source map attaches as a plain equi-join
    // (per-DOCUMENT sized — AQE decides the strategy; a forced broadcast
    // of it would not survive 100×); the matrix itself is |sources|² at
    // most — tiny at any
    // corpus scale. Cross-source pairs only (the within-source diagonal
    // is dd16's job); pair-id checksum pins the exact pair set.
    "dd20_source_overlap" -> { (s, d) =>
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      jaccardPairs(s, d)
        .join(src.select(col("doc_id").as("doc_a"),
          col("source").as("src_a0")), Seq("doc_a"))
        .join(src.select(col("doc_id").as("doc_b"),
          col("source").as("src_b0")), Seq("doc_b"))
        .filter(col("src_a0") =!= col("src_b0"))
        .select(least(col("src_a0"), col("src_b0")).as("source_a"),
          greatest(col("src_a0"), col("src_b0")).as("source_b"),
          col("doc_a"), col("doc_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("doc_a") + col("doc_b")).as("pair_id_checksum"))
        .orderBy("source_a", "source_b")
    },

    // DD17: prefix-pruned CONTAINMENT join — dd15's scale path, the same
    // relationship dd16 has to dd4. dd15 generates every co-occurring pair
    // (quadratic in bucket size for common shingles); here candidates come
    // only from the smaller side's rarest-shingle prefix probing the full
    // stream (see containmentCandidates for why that is lossless for the
    // asymmetric measure), then the exact dd4-style verify re-joins the
    // shingle stream so the result — and the oracle — is identical to
    // dd15's all-pairs form at threshold 0.6.
    "dd17_prefix_containment" -> { (s, d) =>
      // Verify scan-local via broadcast doc→sorted-hash-array (see
      // docShingleArrays): inter <= m_small, so dd15's OR condition
      // collapses to inter / m_small >= t — one array_intersect per
      // candidate, no post-candidate shuffle.
      val cand = containmentCandidates(s, d)
      val arrs = docShingleArrays(s, d)
      // per-document array table: no broadcast hint (rankedShingles' note)
      cand
        .join(arrs.select(col("doc_id").as("small"),
          col("arr").as("arr_s"), col("m").as("ms")), Seq("small"))
        .join(arrs.select(col("doc_id").as("big"),
          col("arr").as("arr_b"), col("m").as("mbig")), Seq("big"))
        .withColumn("inter", size(array_intersect(col("arr_s"), col("arr_b"))))
        .filter(col("inter").cast("double") / col("ms") >= CONTAIN_T)
        .select(least(col("small"), col("big")).as("doc_a"),
          greatest(col("small"), col("big")).as("doc_b"), col("inter"),
          (col("inter").cast("double") /
            when(col("small") < col("big"), col("ms")).otherwise(col("mbig")))
            .as("containment_a_in_b"),
          (col("inter").cast("double") /
            when(col("small") < col("big"), col("mbig")).otherwise(col("ms")))
            .as("containment_b_in_a"))
        .orderBy("doc_a", "doc_b")
    },

    // TX15: train/eval decontamination — flag training documents whose
    // n-grams overlap a held-out benchmark set (the leakage check run
    // before any corpus ships to training). The benchmark partition is
    // doc_id % 23 == 0 (a bounded eval set, ~4% of the corpus); its
    // distinct 3-gram set BROADCASTS, so flagging is scan-local over the
    // training stream — no shuffle grows with corpus size, which is the
    // whole point at 100 TB (eval suites stay small while corpora don't).
    "tx15_decontamination" -> { (s, d) =>
      val sh = graft.ops.DedupOps.shingles(s, d)
      val bench = sh.filter(col("doc_id") % 23 === 0)
        .select("sh").distinct().withColumn("hit", lit(1))
      sh.filter(col("doc_id") % 23 =!= 0)
        .join(broadcast(bench), Seq("sh"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_contaminated"))
        .withColumn("contamination_rate",
          col("n_contaminated").cast("double") / col("n_grams"))
        .withColumn("is_contaminated", col("contamination_rate") >= 0.5)
        .orderBy("doc_id")
    },

    // TX16: n-gram novelty — per document, the share of its 3-grams that
    // appear NOWHERE else in the corpus (df = 1). High-novelty documents
    // carry information the rest of the corpus lacks; near-zero novelty
    // marks boilerplate. One exchange builds gram document-frequencies,
    // one joins them back — both hash-partitioned on the gram, linear in
    // corpus size.
    "tx16_novelty" -> { (s, d) =>
      val sh = graft.ops.DedupOps.shingles(s, d)
      val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      sh.join(dfreq, Seq("sh"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          count(when(col("df") === 1, lit(1))).as("n_unique"))
        .withColumn("novelty_rate", col("n_unique").cast("double") / col("n_grams"))
        .orderBy("doc_id")
    },

    // TX17: token-length histogram + padding-waste audit — the profile a
    // pipeline reads before choosing pack-vs-pad (tx14 is the packing
    // path). Per power-of-2 length band: docs, tokens, and what naive
    // per-document 512-token padding would cost (integer arithmetic, so
    // the waste columns are exact). Pure scan → per-row projection →
    // bounded aggregate; linear and shuffle-light at any corpus size.
    "tx17_length_histogram" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("l", size(split(col("text"), " ")).cast("long"))
        .withColumn("bin_lo",
          when(col("l") < 32, 0L).when(col("l") < 64, 32L)
            .when(col("l") < 128, 64L).otherwise(128L))
        .withColumn("padded", expr("CAST(((l + 511) DIV 512) * 512 AS BIGINT)"))
        .groupBy("bin_lo")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("l")).as("n_tokens"),
          sum(col("padded")).as("padded_tokens"),
          sum(col("padded") - col("l")).as("padding_waste"))
        .withColumn("waste_share",
          (col("padding_waste").cast("double")) / col("padded_tokens"))
        .orderBy("bin_lo")
    },

    // S16: join-key skew profile — the pre-join diagnostic that decides
    // whether a key needs j14's salting: per-key row counts banded into
    // power-of-2 buckets (CASE chain, integer-exact — the repo's hash-gated
    // columns are log-free by convention) plus the max/mean skew ratio
    // every row carries. Two bounded aggregations (per-key, then per-band)
    // and a broadcast of the 1-row global stats — at 100 TB this is one
    // map-side-combined exchange on the key, the same cost as the join's
    // own shuffle it de-risks.
    "s16_key_skew_profile" -> { (s, d) =>
      val per = Tables.orders(s, d)
        .groupBy("o_custkey").agg(count(lit(1)).as("n"))
      val banded = per.withColumn("band_lo",
        when(col("n") < 2L, 1L).when(col("n") < 4L, 2L)
          .when(col("n") < 8L, 4L).when(col("n") < 16L, 8L)
          .when(col("n") < 32L, 16L).when(col("n") < 64L, 32L)
          .otherwise(64L))
      val hist = banded.groupBy("band_lo")
        .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"))
      val global = per.agg(count(lit(1)).as("total_keys"),
        sum(col("n")).as("total_rows"), max(col("n")).as("max_key_rows"))
      hist.crossJoin(broadcast(global))
        .withColumn("skew_ratio",
          col("max_key_rows").cast("double") /
            (col("total_rows").cast("double") / col("total_keys")))
        .select(col("band_lo"), col("n_keys"), col("n_rows"),
          col("max_key_rows"), col("skew_ratio"))
        .orderBy("band_lo")
    },

    // TX18: sliding-window chunking — split each document into overlapping
    // fixed-size token windows (window 32, stride 24 → 8-token overlap;
    // sized to the synthetic corpus' ~100-token docs so multi-chunk
    // fan-out is actually exercised), the per-document context-window
    // chunker that feeds retrieval indexes and fine-tuning sets (tx14
    // packs ACROSS documents; tx18 chunks WITHIN one). Chunk count per doc
    // is 1 + max(0, ceil((n-W)/S)) so the final window always reaches the
    // last token and no chunk starts past it. Pure scan → bounded explode
    // (fan-out n/S per doc) → projection: no shuffle at all,
    // embarrassingly parallel at any corpus size. The chunk text is
    // fingerprinted (md5 over the re-joined slice) rather than carried, so
    // the gate compares exact content without moving it.
    "tx18_sliding_chunks" -> { (s, d) =>
      val W = 32L; val S = 24L
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
        .withColumn("n", size(col("ts")).cast("long"))
        .filter(col("n") > 0L)
        .withColumn("chunk_idx",
          explode(expr(s"sequence(0L, greatest((n - $W + $S - 1) DIV $S, 0L))")))
        .withColumn("start_tok", col("chunk_idx") * S)
        .withColumn("chunk_len", least(lit(W), col("n") - col("start_tok")))
        .withColumn("chunk_md5", md5(concat_ws(" ",
          expr("slice(ts, CAST(start_tok + 1 AS INT), CAST(chunk_len AS INT))"))))
        .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
          col("chunk_len"), col("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    },

    // DD18: duplicate-span removal manifest — the span-level exact-dedup
    // step (Lee et al.'s "Deduplicating Training Data Makes Language
    // Models Better" shape): find every 3-gram occurrence that appears
    // more than once ANYWHERE in the corpus, merge each document's
    // overlapping duplicated spans into islands, and emit the per-document
    // cut list summary (spans to remove, tokens removed, share kept).
    // dd11 dedups fixed chunks; dd18 marks exact REPEATED SPANS at token
    // granularity. One exchange builds the gram occurrence counts, one
    // joins survivors back; island merging is a per-document window
    // (running max of span end, new island when a span starts at or past
    // it) — partitioned by doc_id, never global. Integer span arithmetic
    // throughout, so the manifest is hash-exact across engines.
    "dd18_span_removal" -> { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
        .withColumn("n", size(col("ts")).cast("long"))
      // positional 3-grams, 1-based start positions 1..n-2
      val occ = toks.filter(col("n") >= 3L)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(ts) - 2),
             i -> struct(CAST(i AS BIGINT) AS pos,
                         concat_ws(' ', ts[i-1], ts[i], ts[i+1]) AS gram))"""))
          .as("g"))
        .select(col("doc_id"), col("g.pos").as("pos"), col("g.gram").as("gram"))
      val dupGrams = occ.groupBy("gram").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1L).select("gram")
      val spans = occ.join(dupGrams, Seq("gram"))
        .select(col("doc_id"), col("pos").as("sp_start"),
          (col("pos") + 3L).as("sp_end"))
      val wPrev = Window.partitionBy("doc_id").orderBy("sp_start")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy("doc_id").orderBy("sp_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val islands = spans
        .withColumn("prev_max_end", max(col("sp_end")).over(wPrev))
        .withColumn("new_island",
          when(col("prev_max_end").isNull ||
            col("sp_start") >= col("prev_max_end"), 1L).otherwise(0L))
        .withColumn("island", sum(col("new_island")).over(wRun))
        .groupBy("doc_id", "island")
        .agg(min(col("sp_start")).as("i_start"), max(col("sp_end")).as("i_end"))
      val perDoc = islands.groupBy("doc_id")
        .agg(count(lit(1)).as("n_dup_spans"),
          sum(col("i_end") - col("i_start")).as("removed_tokens"))
      toks.select(col("doc_id"), col("n").as("total_tokens"))
        .join(perDoc, Seq("doc_id"), "left")
        .withColumn("n_dup_spans", coalesce(col("n_dup_spans"), lit(0L)))
        .withColumn("removed_tokens", coalesce(col("removed_tokens"), lit(0L)))
        .withColumn("kept_share",
          (col("total_tokens") - col("removed_tokens")).cast("double") /
            col("total_tokens"))
        .orderBy("doc_id")
    },

    // TX14: sequence packing — concat-and-chunk the corpus into fixed
    // 512-token training windows (the sample-packing step before batching).
    // The global running offset is a DISTRIBUTED two-level prefix sum, not
    // one giant window: docs bucket by an explicit range key (doc_id div
    // 64), per-bucket totals cumsum on the tiny bucket table (one row per
    // bucket), and the per-doc cumsum windows WITHIN each bucket — no
    // single-partition sort at any point, the pattern that survives 100 TB.
    // Spans explode to the chunks they overlap ((end-1) div 512 bounded
    // fan-out); every quantity is an exact integer. Token convention is
    // tx3's single-space split.
    "tx14_sequence_pack" -> { (s, d) =>
      val CHUNK = 512L
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("tokens"),
          (col("doc_id") / 64L).cast("long").as("pid"))
      val offs = docs.groupBy("pid").agg(sum(col("tokens")).as("psum"))
        .withColumn("offset", coalesce(sum(col("psum")).over(
          Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("pid", "offset")
      val wLocal = Window.partitionBy("pid").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val spans = docs.join(broadcast(offs), Seq("pid"))
        .withColumn("cum_end", sum(col("tokens")).over(wLocal) + col("offset"))
        .withColumn("cum_start", col("cum_end") - col("tokens"))
        .filter(col("tokens") > 0)
      spans
        .withColumn("chunk_id",
          explode(expr(s"sequence(cum_start div $CHUNK, (cum_end - 1) div $CHUNK)")))
        .groupBy("chunk_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("cum_start") >= col("chunk_id") * CHUNK &&
                   col("cum_end") <= (col("chunk_id") + 1L) * CHUNK, 1L).otherwise(0L))
            .as("n_full_docs"),
          sum(least(col("cum_end"), (col("chunk_id") + 1L) * CHUNK) -
              greatest(col("cum_start"), col("chunk_id") * CHUNK)).as("filled_tokens"))
        .orderBy("chunk_id")
    },

    // QC: distribution drift between cohorts — the train/serve skew check
    // run before shipping a dataset refresh. Cohorts split by event-id
    // parity (deterministic), values banded into 20 fixed-width buckets,
    // and a chi-square-style statistic Σ (p−q)²/q computed WITHOUT logs
    // (PSI's ln(p/q) would hash-drift across libm's; the χ² form ranks
    // drift identically for small deviations). Per-bucket terms are
    // bit-identical IEEE ops; the total is an exact decimal sum of the
    // 6-dp-rounded terms, so the global statistic is order-independent.
    "qc_drift_chi2" -> { (s, d) =>
      val e = Tables.events(s, d)
        .withColumn("cohort", pmod(col("event_id"), lit(2L)))
        .withColumn("bucket", least(floor(col("value") / 25.0), lit(19.0)).cast("long"))
      val counts = e.groupBy("bucket")
        .agg(sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("cnt_a"),
          sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("cnt_b"))
      val tot = counts.agg(sum(col("cnt_a")).as("tot_a"), sum(col("cnt_b")).as("tot_b"))
      val terms = counts.crossJoin(broadcast(tot))
        .withColumn("p", col("cnt_a").cast("double") / col("tot_a"))
        .withColumn("q", col("cnt_b").cast("double") / col("tot_b"))
        .withColumn("term",
          round((col("p") - col("q")) * (col("p") - col("q")) /
            when(col("q") =!= 0.0, col("q")), 6))
      terms
        .withColumn("chi2_total", dsumOver(col("term"), Window.partitionBy()))
        .select(col("bucket"), col("cnt_a"), col("cnt_b"), col("term"),
          col("chi2_total"))
        .orderBy("bucket")
    })

  val oracles: Map[String, String] = Map(
    // dd15's naive all-pairs form at t = 0.6 — the prefix filter must be
    // invisible in the result.
    "dd17_prefix_containment" ->
      s"""WITH ${graft.ops.DedupOps.duckShingles},
          counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
          inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
                    FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
          SELECT doc_a, doc_b, inter,
                 CAST(inter AS DOUBLE) / ca.n_sh AS containment_a_in_b,
                 CAST(inter AS DOUBLE) / cb.n_sh AS containment_b_in_a
          FROM inter
          JOIN counts ca ON ca.doc_id = doc_a
          JOIN counts cb ON cb.doc_id = doc_b
          WHERE CAST(inter AS DOUBLE) / ca.n_sh >= 0.6
             OR CAST(inter AS DOUBLE) / cb.n_sh >= 0.6
          ORDER BY doc_a, doc_b""",
    "tx17_length_histogram" ->
      """WITH docs AS (
           SELECT len(string_split(text, ' ')) AS l FROM documents),
          binned AS (
            SELECT l,
                   CAST(CASE WHEN l < 32 THEN 0 WHEN l < 64 THEN 32
                             WHEN l < 128 THEN 64 ELSE 128 END AS BIGINT) AS bin_lo,
                   CAST(((l + 511) // 512) * 512 AS BIGINT) AS padded
            FROM docs)
          SELECT bin_lo, COUNT(*) AS n_docs,
                 CAST(SUM(l) AS BIGINT) AS n_tokens,
                 CAST(SUM(padded) AS BIGINT) AS padded_tokens,
                 CAST(SUM(padded - l) AS BIGINT) AS padding_waste,
                 CAST(SUM(padded - l) AS DOUBLE) / SUM(padded) AS waste_share
          FROM binned GROUP BY 1 ORDER BY 1""",

    "s16_key_skew_profile" ->
      """WITH per AS (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1),
          banded AS (SELECT n,
                 CAST(CASE WHEN n < 2 THEN 1 WHEN n < 4 THEN 2
                           WHEN n < 8 THEN 4 WHEN n < 16 THEN 8
                           WHEN n < 32 THEN 16 WHEN n < 64 THEN 32
                           ELSE 64 END AS BIGINT) AS band_lo
               FROM per),
          hist AS (SELECT band_lo, COUNT(*) AS n_keys,
                          CAST(SUM(n) AS BIGINT) AS n_rows
                   FROM banded GROUP BY 1),
          g AS (SELECT COUNT(*) AS total_keys,
                       CAST(SUM(n) AS BIGINT) AS total_rows,
                       CAST(MAX(n) AS BIGINT) AS max_key_rows
                FROM per)
          SELECT h.band_lo, h.n_keys, h.n_rows, g.max_key_rows,
                 CAST(g.max_key_rows AS DOUBLE) /
                   (CAST(g.total_rows AS DOUBLE) / g.total_keys) AS skew_ratio
          FROM hist h, g
          ORDER BY h.band_lo""",

    // Window 32 / stride 24, 1 + max(0, ceil((n-W)/S)) chunks per doc —
    // identical integer arithmetic to the Spark side; chunk content is
    // compared via md5 of the re-joined token slice.
    "tx18_sliding_chunks" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts,
                             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                      FROM documents),
          chunks AS (
            SELECT doc_id, ts, n, i AS chunk_idx, i * 24 AS start_tok
            FROM tok, UNNEST(generate_series(0,
                   GREATEST((n - 32 + 24 - 1) // 24, 0))) AS u(i)
            WHERE n > 0)
          SELECT doc_id, chunk_idx, start_tok,
                 LEAST(32, n - start_tok) AS chunk_len,
                 md5(array_to_string(
                   ts[start_tok + 1 : start_tok + LEAST(32, n - start_tok)],
                   ' ')) AS chunk_md5
          FROM chunks ORDER BY doc_id, chunk_idx""",

    // 1-based 3-gram start positions; spans [pos, pos+3) merged per doc by
    // the same running-max-end island rule as the Spark window.
    "dd18_span_removal" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
          docs AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS total_tokens FROM tok),
          occ AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
                         ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS gram
                  FROM tok, UNNEST(generate_series(1, len(ts) - 2)) AS u(i)
                  WHERE len(ts) >= 3),
          dup_grams AS (SELECT gram FROM occ GROUP BY 1 HAVING COUNT(*) > 1),
          spans AS (SELECT o.doc_id, o.pos AS sp_start, o.pos + 3 AS sp_end
                    FROM occ o JOIN dup_grams USING (gram)),
          flagged AS (SELECT doc_id, sp_start, sp_end,
                 MAX(sp_end) OVER (PARTITION BY doc_id ORDER BY sp_start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
               FROM spans),
          isl AS (SELECT doc_id, sp_start, sp_end,
                 SUM(CASE WHEN prev_max_end IS NULL OR sp_start >= prev_max_end
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY sp_start
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
               FROM flagged),
          merged AS (SELECT doc_id, island, MIN(sp_start) AS i_start,
                            MAX(sp_end) AS i_end
                     FROM isl GROUP BY 1, 2),
          summary AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
                             CAST(SUM(i_end - i_start) AS BIGINT) AS removed_tokens
                      FROM merged GROUP BY 1)
          SELECT d.doc_id, d.total_tokens,
                 CAST(COALESCE(s.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
                 CAST(COALESCE(s.removed_tokens, 0) AS BIGINT) AS removed_tokens,
                 CAST(d.total_tokens - COALESCE(s.removed_tokens, 0) AS DOUBLE)
                   / d.total_tokens AS kept_share
          FROM docs d LEFT JOIN summary s USING (doc_id)
          ORDER BY d.doc_id""",

    "tx15_decontamination" ->
      s"""WITH ${graft.ops.DedupOps.duckShingles},
          bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 23 = 0),
          tr AS (SELECT doc_id, sh FROM sh WHERE doc_id % 23 <> 0)
          SELECT tr.doc_id,
                 COUNT(*) AS n_grams,
                 CAST(SUM(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_contaminated,
                 CAST(SUM(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*) AS contamination_rate,
                 CAST(SUM(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*) >= 0.5 AS is_contaminated
          FROM tr LEFT JOIN bench b ON tr.sh = b.sh
          GROUP BY 1 ORDER BY 1""",

    "tx16_novelty" ->
      s"""WITH ${graft.ops.DedupOps.duckShingles},
          dfreq AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY 1)
          SELECT s.doc_id,
                 COUNT(*) AS n_grams,
                 CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
                 CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*) AS novelty_rate
          FROM sh s JOIN dfreq d ON s.sh = d.sh
          GROUP BY 1 ORDER BY 1""",

    "tx13_tfidf_topterms" ->
      """WITH tok AS (
           SELECT doc_id, term FROM (
             SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
             FROM documents)
           WHERE length(term) >= 3),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT COUNT(*) AS n_docs FROM documents),
         scored AS (
           SELECT doc_id, term, tf,
                  tf * (n_docs + 1.0) / (df + 1.0) AS tfidf
           FROM tf JOIN dfreq USING (term) CROSS JOIN n),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                            ORDER BY tfidf DESC, term) AS rk
               FROM scored)
         SELECT doc_id, rk, term, tf, ROUND(tfidf, 4) AS tfidf
         FROM r WHERE rk <= 3
         ORDER BY doc_id, rk""",

    // Stated as the semantic BETWEEN range join; the Spark side executes
    // the chunk-aligned equi-join rewrite of the same predicate.
    "j16_scd2_range_join" ->
      """WITH span AS (
           SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
                  MAX(CAST(o_orderdate AS DATE)) AS d1 FROM orders),
         ks AS (
           SELECT CAST(unnest(range(0, (SELECT (datediff('day', d0, d1) // 135 + 2) * 3 + 1 FROM span))) AS BIGINT) AS k),
         dim AS (
           SELECT k,
                  (k // 3) * 135 + CASE k % 3 WHEN 0 THEN 0 WHEN 1 THEN 30 ELSE 75 END AS off0,
                  ((k + 1) // 3) * 135 + CASE (k + 1) % 3 WHEN 0 THEN 0 WHEN 1 THEN 30 ELSE 75 END AS off1,
                  1.0 + (k % 7) * 0.01 AS rate
           FROM ks),
         dimd AS (
           SELECT k, d0 + CAST(off0 AS INTEGER) AS valid_from,
                  d0 + CAST(off1 AS INTEGER) AS valid_to, rate
           FROM dim CROSS JOIN span)
         SELECT k AS period_id, valid_from, valid_to, rate,
                COUNT(*) AS n_orders,
                CAST(ROUND(SUM(CAST(o_totalprice * rate AS DECIMAL(30,8))), 4) AS DOUBLE) AS adj_revenue
         FROM orders o JOIN dimd
           ON CAST(o.o_orderdate AS DATE) >= valid_from
          AND CAST(o.o_orderdate AS DATE) < valid_to
         GROUP BY 1, 2, 3, 4
         ORDER BY period_id""",

    "s14_column_profile" ->
      """WITH o AS (SELECT *, datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS od_days FROM orders)
         SELECT * FROM (
           SELECT 'o_orderkey' AS column_name,
                  CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                  COUNT(DISTINCT o_orderkey) AS n_distinct,
                  ROUND(CAST(MIN(o_orderkey) AS DOUBLE), 4) AS min_num,
                  ROUND(CAST(MAX(o_orderkey) AS DOUBLE), 4) AS max_num,
                  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
           FROM o
           UNION ALL
           SELECT 'o_custkey', CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  COUNT(DISTINCT o_custkey),
                  ROUND(CAST(MIN(o_custkey) AS DOUBLE), 4), ROUND(CAST(MAX(o_custkey) AS DOUBLE), 4),
                  NULL, NULL FROM o
           UNION ALL
           SELECT 'o_totalprice', CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  COUNT(DISTINCT o_totalprice),
                  ROUND(CAST(MIN(o_totalprice) AS DOUBLE), 4), ROUND(CAST(MAX(o_totalprice) AS DOUBLE), 4),
                  NULL, NULL FROM o
           UNION ALL
           SELECT 'od_days', CAST(SUM(CASE WHEN od_days IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  COUNT(DISTINCT od_days),
                  ROUND(CAST(MIN(od_days) AS DOUBLE), 4), ROUND(CAST(MAX(od_days) AS DOUBLE), 4),
                  NULL, NULL FROM o
           UNION ALL
           SELECT 'o_orderstatus', CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  COUNT(DISTINCT o_orderstatus),
                  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                  MIN(o_orderstatus), MAX(o_orderstatus) FROM o
           UNION ALL
           SELECT 'o_orderpriority', CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  COUNT(DISTINCT o_orderpriority),
                  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                  MIN(o_orderpriority), MAX(o_orderpriority) FROM o)
         ORDER BY column_name""",

    "sa7_negative_pairs" ->
      """WITH mx AS (SELECT MAX(doc_id) + 1 AS id_mod FROM documents),
         drawn AS (
           SELECT d.doc_id AS anchor_id, d.lang AS anchor_lang,
                  (d.doc_id * 48271 + j.j * 7919 + 11) % mx.id_mod AS neg_id
           FROM documents d
           CROSS JOIN mx
           CROSS JOIN (SELECT unnest([1, 2]) AS j) j
           WHERE (d.doc_id * 48271 + j.j * 7919 + 11) % mx.id_mod <> d.doc_id)
         SELECT anchor_lang, n.lang AS neg_lang,
                COUNT(*) AS n_pairs,
                CAST(SUM(anchor_id * 3 + neg_id) AS BIGINT) AS pair_checksum
         FROM drawn JOIN documents n ON drawn.neg_id = n.doc_id
         GROUP BY 1, 2
         ORDER BY 1, 2""",

    "w14_ntile_deciles" ->
      """WITH banded AS (
           SELECT o_totalprice,
                  ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
           FROM orders)
         SELECT CAST(decile AS BIGINT) AS decile,
                COUNT(*) AS n_orders,
                ROUND(MIN(o_totalprice), 4) AS min_price,
                ROUND(MAX(o_totalprice), 4) AS max_price,
                CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,8))), 4) AS DOUBLE)
                  / COUNT(o_totalprice) AS avg_price
         FROM banded GROUP BY 1 ORDER BY 1""",

    // Fences via quantile_cont (same type-7 position rule as Spark's
    // percentile; safe as cut points though not as outputs — see the query
    // comment); strict < in the band filter mirrors the Spark side: ties
    // at a fence fall to the lower band.
    "w16_decile_fences" ->
      """WITH f AS (SELECT quantile_cont(o_totalprice,
                             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS fs
                    FROM orders),
          banded AS (
            SELECT o_totalprice,
                   1 + len(list_filter(f.fs, x -> x < o_totalprice)) AS decile
            FROM orders, f)
          SELECT CAST(decile AS BIGINT) AS decile,
                 COUNT(*) AS n_orders,
                 ROUND(MIN(o_totalprice), 4) AS min_price,
                 ROUND(MAX(o_totalprice), 4) AS max_price,
                 CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,8))), 4) AS DOUBLE)
                   / COUNT(o_totalprice) AS avg_price
          FROM banded GROUP BY 1 ORDER BY 1""",

    "s15_zorder_key" ->
      """WITH xy AS (
           SELECT o_custkey % 256 AS x, o_orderkey % 256 AS y FROM orders),
         zed AS (
           SELECT x, y,
                  (((x >> 0) & 1) << 0)  + (((y >> 0) & 1) << 1)  +
                  (((x >> 1) & 1) << 2)  + (((y >> 1) & 1) << 3)  +
                  (((x >> 2) & 1) << 4)  + (((y >> 2) & 1) << 5)  +
                  (((x >> 3) & 1) << 6)  + (((y >> 3) & 1) << 7)  +
                  (((x >> 4) & 1) << 8)  + (((y >> 4) & 1) << 9)  +
                  (((x >> 5) & 1) << 10) + (((y >> 5) & 1) << 11) +
                  (((x >> 6) & 1) << 12) + (((y >> 6) & 1) << 13) +
                  (((x >> 7) & 1) << 14) + (((y >> 7) & 1) << 15) AS z
           FROM xy)
         SELECT CAST(z // 1024 AS BIGINT) AS zbucket,
                COUNT(*) AS n,
                MIN(x) AS min_x, MAX(x) AS max_x,
                MIN(y) AS min_y, MAX(y) AS max_y,
                CAST((MAX(x) - MIN(x) + 1) * (MAX(y) - MIN(y) + 1) AS BIGINT) AS bbox_area
         FROM zed GROUP BY 1 ORDER BY 1""",

    // Stated as the semantic inequality join; the Spark side executes the
    // bucket-exploded equi form of the same predicate.
    "j17_interval_join" ->
      """WITH ev AS (
           SELECT user_id, event_type,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS t_us
           FROM events),
         pairs AS (
           SELECT c.user_id, p.t_us - c.t_us AS delay_us
           FROM ev c JOIN ev p
             ON c.user_id = p.user_id
            AND c.event_type = 'click' AND p.event_type = 'purchase'
            AND p.t_us > c.t_us AND p.t_us <= c.t_us + 3600000000)
         SELECT user_id, COUNT(*) AS n_pairs,
                CAST(SUM(delay_us) AS BIGINT) AS total_delay_us,
                MIN(delay_us) AS min_delay_us,
                MAX(delay_us) AS max_delay_us
         FROM pairs GROUP BY 1 ORDER BY 1""",

    // The bloom pre-filter is result-transparent (exact semi join follows),
    // so the oracle is the plain semi join.
    "j18_bloom_semi" ->
      """SELECT COUNT(*) AS n_orders,
                CAST(SUM(o_orderkey) AS BIGINT) AS orderkey_checksum,
                CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
         FROM orders
         WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey = 3)""",

    // The recursive CTE is the SQL statement of the same recurrence the
    // Spark side walks sequentially; identical op order per step keeps the
    // doubles bit-identical.
    "w15_ewma_decay" ->
      """WITH RECURSIVE ev AS (
           SELECT user_id, "value",
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         walk AS (
           SELECT user_id, rn, "value" AS ewma FROM ev WHERE rn = 1
           UNION ALL
           SELECT e.user_id, e.rn, e."value" + 0.5 * w.ewma
           FROM ev e JOIN walk w ON e.user_id = w.user_id AND e.rn = w.rn + 1)
         SELECT user_id, MAX(rn) AS n_events,
                ROUND(1e-9 + max_by(ewma, rn), 6) AS ewma_final
         FROM walk GROUP BY 1 ORDER BY 1""",

    "u6_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id AS id1, md5(text) AS md5_1 FROM documents),
         v2 AS (
           SELECT doc_id AS id2,
                  CASE WHEN doc_id % 3 = 0 THEN md5(text || ' v2') ELSE md5(text) END AS md5_2
           FROM documents WHERE doc_id % 17 <> 1)
         SELECT CASE WHEN id2 IS NULL THEN 'removed'
                     WHEN id1 IS NULL THEN 'added'
                     WHEN md5_1 <> md5_2 THEN 'changed'
                     ELSE 'unchanged' END AS status,
                COUNT(*) AS n_docs,
                CAST(SUM(COALESCE(id1, id2)) AS BIGINT) AS id_checksum
         FROM v1 FULL OUTER JOIN v2 ON id1 = id2
         GROUP BY 1 ORDER BY 1""",

    // Naive all-pairs statement over the same shingles — the prefix filter
    // must be invisible.
    "dd16_prefix_jaccard" ->
      s"""WITH ${graft.ops.DedupOps.duckShingles},
         counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
                CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) AS jaccard
         FROM inter
         JOIN counts ca ON ca.doc_id = doc_a
         JOIN counts cb ON cb.doc_id = doc_b
         WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= 0.5
         ORDER BY doc_a, doc_b""",

    // Funnel replay: exact via the shared bag fingerprint, near via the
    // naive all-pairs Jaccard (doc_b side of any qualifying pair).
    "dd21_dedup_funnel" ->
      s"""WITH ${graft.ops.DedupOps.duckShingles},
          fpt AS (SELECT doc_id, ${graft.ops.TextOps.duckBagFingerprint} AS fp
                  FROM documents),
          firstfp AS (SELECT fp, MIN(doc_id) AS first_id FROM fpt GROUP BY 1),
          ex AS (SELECT f.doc_id, f.doc_id > ff.first_id AS is_exact
                 FROM fpt f JOIN firstfp ff ON ff.fp = f.fp),
          counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
          inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
                    FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                    GROUP BY 1, 2),
          nearids AS (SELECT DISTINCT doc_b AS doc_id FROM inter
                      JOIN counts ca ON ca.doc_id = doc_a
                      JOIN counts cb ON cb.doc_id = doc_b
                      WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= 0.5),
          tagged AS (SELECT e.doc_id,
                            CASE WHEN e.is_exact THEN 'exact_dup'
                                 WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                                 ELSE 'kept' END AS status
                     FROM ex e LEFT JOIN nearids n ON n.doc_id = e.doc_id)
          SELECT status, COUNT(*) AS n_docs,
                 CAST(SUM(doc_id) AS BIGINT) AS id_checksum
          FROM tagged GROUP BY 1 ORDER BY 1""",

    // The oracle is the FROM-SCRATCH recompute over the full table — the
    // merge-equals-rebuild contract is exactly what the hash verifies.
    "u7_incremental_refresh" ->
      """SELECT o_orderpriority, CAST(month(o_orderdate) AS INT) AS mon,
                COUNT(*) AS n_orders,
                CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,8))), 4) AS DOUBLE)
                  AS revenue,
                CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,8))), 4) AS DOUBLE)
                  / COUNT(*) AS avg_price
         FROM orders GROUP BY 1, 2 ORDER BY 1, 2""",

    // Naive all-pairs at the same t = 0.5, aggregated by normalized source
    // pair — dd20's prefix+broadcast plan must be invisible in the result.
    "dd20_source_overlap" ->
      s"""WITH ${graft.ops.DedupOps.duckShingles},
         counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT doc_a, doc_b FROM inter
           JOIN counts ca ON ca.doc_id = doc_a
           JOIN counts cb ON cb.doc_id = doc_b
           WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= 0.5),
         tagged AS (
           SELECT LEAST(sa.source, sb.source) AS source_a,
                  GREATEST(sa.source, sb.source) AS source_b,
                  p.doc_a, p.doc_b
           FROM pairs p
           JOIN documents sa ON sa.doc_id = p.doc_a
           JOIN documents sb ON sb.doc_id = p.doc_b
           WHERE sa.source <> sb.source)
         SELECT source_a, source_b, COUNT(*) AS n_pairs,
                CAST(SUM(doc_a + doc_b) AS BIGINT) AS pair_id_checksum
         FROM tagged GROUP BY 1, 2 ORDER BY 1, 2""",

    // The oracle may state the prefix sum as ONE window — the equivalence
    // of the two-level form to the global cumsum is the point of the gate.
    "tx14_sequence_pack" ->
      """WITH t AS (
           SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
           FROM documents),
         c AS (
           SELECT doc_id, tokens,
                  CAST(SUM(tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
           FROM t),
         spans AS (
           SELECT doc_id, tokens, cum_end, cum_end - tokens AS cum_start
           FROM c WHERE tokens > 0),
         ex AS (
           SELECT cum_start, cum_end,
                  unnest(range(cum_start // 512, (cum_end - 1) // 512 + 1)) AS chunk_id
           FROM spans)
         SELECT CAST(chunk_id AS BIGINT) AS chunk_id,
                COUNT(*) AS n_docs,
                CAST(SUM(CASE WHEN cum_start >= chunk_id * 512 AND cum_end <= (chunk_id + 1) * 512
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_full_docs,
                CAST(SUM(LEAST(cum_end, (chunk_id + 1) * 512)
                       - GREATEST(cum_start, chunk_id * 512)) AS BIGINT) AS filled_tokens
         FROM ex GROUP BY 1 ORDER BY 1""",

    "qc_drift_chi2" ->
      """WITH e AS (
           SELECT event_id % 2 AS cohort,
                  CAST(LEAST(FLOOR("value" / 25.0), 19.0) AS BIGINT) AS bucket
           FROM events),
         counts AS (
           SELECT bucket,
                  SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS cnt_a,
                  SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS cnt_b
           FROM e GROUP BY 1),
         tot AS (SELECT SUM(cnt_a) AS tot_a, SUM(cnt_b) AS tot_b FROM counts),
         terms AS (
           SELECT bucket, cnt_a, cnt_b,
                  ROUND((CAST(cnt_a AS DOUBLE) / tot_a - CAST(cnt_b AS DOUBLE) / tot_b)
                      * (CAST(cnt_a AS DOUBLE) / tot_a - CAST(cnt_b AS DOUBLE) / tot_b)
                      / (CASE WHEN CAST(cnt_b AS DOUBLE) / tot_b <> 0
                              THEN CAST(cnt_b AS DOUBLE) / tot_b END), 6) AS term
           FROM counts CROSS JOIN tot)
         SELECT CAST(bucket AS BIGINT) AS bucket,
                CAST(cnt_a AS BIGINT) AS cnt_a, CAST(cnt_b AS BIGINT) AS cnt_b,
                term,
                CAST(ROUND(SUM(CAST(term AS DECIMAL(30,8))) OVER (), 4) AS DOUBLE) AS chi2_total
         FROM terms
         ORDER BY bucket""")
}
