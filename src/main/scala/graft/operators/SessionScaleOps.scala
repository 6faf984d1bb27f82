package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Exact._

/** Scale-technique operators beyond the reference's surface:
  * gaps-and-islands sessionization (the batch twin of stateful streaming
  * session windows), salt-then-merge aggregation for skewed keys, and
  * sketch-based approximate aggregates (the 100 TB alternative to exact
  * COUNT DISTINCT / percentile when error tolerance allows).
  */
object SessionScaleOps extends graft.QueryFamily {
  private val GAP_MIN = 30 // session gap threshold, minutes

  val queries: Map[String, Q] = Map(
    // F27: first-order Markov transition matrix over each user's event
    // stream — P(next | prev) with self-loop share, the behavioral model
    // next to f19's PMI (association) and f23's trigrams (motifs): PMI
    // says which events co-occur, the transition matrix says where the
    // session goes NEXT. One LAG over the per-user total order
    // (ts, event_id), one pair-keyed hash-agg; the prev-marginal attaches
    // as a broadcast of the |alphabet|-sized frame.
    // F29: stationary distribution of f27's publisher-state chain — where
    // the session process spends its time at equilibrium, vs the empirical
    // event share (a gap flags non-stationarity). Power iteration in
    // g1_pagerank's EXACT integer form: π·1e12 starts uniform, each round
    // routes floor(π_i · n_ij / n_from_i) mass along the transition
    // counts — floor division matches DuckDB's `//` bit-for-bit, so the
    // 8th iterate is hash-gateable. Rounds are distributed joins over the
    // (tiny) pair table with localCheckpoint pinning each iterate
    // (pagerank's lesson: lazy 8-deep plans re-AQE-plan every stage).
    "f29_markov_stationary" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pairs = graft.Tables.events(s, d)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      val withFrom = pairs
        .join(pairs.groupBy("prev_type").agg(sum(col("n")).as("n_from")), "prev_type")
        .localCheckpoint()
      val SCALE = 1000000000000L
      val states = withFrom.select(col("prev_type").as("state")).distinct()
      val nStates = states.count()
      var pi = states.withColumn("r", lit(SCALE / nStates)).localCheckpoint()
      for (_ <- 1 to 8) {
        pi = withFrom
          .join(pi.withColumnRenamed("state", "prev_type"), "prev_type")
          .groupBy(col("next_type").as("state"))
          .agg(sum(expr("r * n DIV n_from")).as("r"))
          .localCheckpoint()
      }
      val emp = graft.Tables.events(s, d)
        .groupBy(col("event_type").as("state")).agg(count(lit(1)).as("n_events"))
      val tot = emp.agg(sum(col("n_events")).as("n_total"))
      pi.join(broadcast(emp), "state").crossJoin(broadcast(tot))
        .select(col("state"), col("r").as("stationary_scaled"), col("n_events"),
          graft.functions.Exact.stableRound(
            col("r").cast("double") / SCALE, 6).as("stationary_share"),
          graft.functions.Exact.stableRound(
            col("n_events").cast("double") / col("n_total"), 6).as("empirical_share"))
        .orderBy("state")
    },

    "f27_markov_transitions" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pairs = graft.Tables.events(s, d)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      val marginal = pairs.groupBy("prev_type").agg(sum(col("n")).as("n_from"))
      pairs.join(broadcast(marginal), "prev_type")
        .select(col("prev_type"), col("next_type"), col("n"),
          graft.functions.Exact.stableRound(
            col("n").cast("double") / col("n_from"), 6).as("prob"),
          (col("prev_type") === col("next_type")).as("is_self_loop"))
        .orderBy("prev_type", "next_type")
    },

    // A22: GRID-HISTOGRAM approximate quantiles — the mergeable,
    // constant-state alternative to an exact percentile sort at 100 TB:
    // one pass for global min/max (a 1-row broadcast), one pass binning
    // every value into a fixed 1000-cell grid (partial-agg groupBy on the
    // bucket index — counts merge across partitions/executors/days, which
    // is the whole point), then the quantile is the first bucket whose
    // cumulative count clears ceil(q·n). Unlike a13's HLL (rows-only
    // gate), every output here is deterministically reproducible: bucket
    // indexes are floor() of the same IEEE double expression on both
    // engines, thresholds use integer ceil arithmetic, and bucket bounds
    // re-derive from (min, width) — so this sketch IS hash-gateable.
    // Max error is one bucket width — reported, not hidden.
    "a22_grid_quantiles" -> { (s, d) =>
      import s.implicits._
      val B = 1000
      val li = Tables.lineitem(s, d)
      val bounds = li.agg(
        min(col("l_extendedprice")).as("lo"),
        max(col("l_extendedprice")).as("hi"),
        count(lit(1)).as("n"))
      val binned = li.crossJoin(broadcast(bounds))
        .withColumn("w", (col("hi") - col("lo")) / lit(B))
        .withColumn("bucket",
          least(floor((col("l_extendedprice") - col("lo")) / col("w")), lit(B - 1L))
            .cast("long"))
        .groupBy("bucket").agg(count(lit(1)).as("c"))
      val cum = binned
        .withColumn("cum", sum(col("c")).over(
          Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)))
      // quantiles as exact rationals: threshold = ceil(q*n) in integers
      val qs = Seq((1L, 2L), (9L, 10L), (99L, 100L))
      val qFrame = qs.map { case (num, den) => (num, den) }
        .toDF("q_num", "q_den")
      cum.crossJoin(broadcast(bounds.select(col("lo"), col("hi"), col("n"))))
        .crossJoin(broadcast(qFrame))
        .filter(col("cum") * col("q_den") >= col("n") * col("q_num"))
        .groupBy("q_num", "q_den")
        .agg(min(col("bucket")).as("bucket"),
          min(col("lo")).as("lo0"), min(col("hi")).as("hi0"), min(col("n")).as("n"))
        .withColumn("q", col("q_num").cast("double") / col("q_den"))
        .withColumn("w", (col("hi0") - col("lo0")) / lit(B))
        .withColumn("approx_lo", col("lo0") + col("bucket") * col("w"))
        .withColumn("approx_hi", col("lo0") + (col("bucket") + 1) * col("w"))
        .select(col("q"), col("bucket"), col("n"), col("approx_lo"), col("approx_hi"))
        .orderBy("q")
    },

    // W18: ROLLING exact QUANTILE — trailing-7-day median of the daily
    // total, the robust-trend smoother dashboards put next to the rolling
    // mean. Spark has no exact-quantile window function, and a
    // per-frame sort in a window would re-sort every frame; the scalable
    // rewrite is a21's inversion: each daily total contributes itself to
    // the 7 report-days whose trailing window contains it (constant-width
    // Generate), then one QuantileRefine rank batch per report day.
    // Shuffle volume is 7×|days| rows — linear, mergeable, no window
    // state. Daily totals are decimal-exact (dsum), and the DISCRETE
    // median picks an actual element of that set, so the gate is
    // bit-exact cross-engine with no interpolation arithmetic at all.
    "w18_rolling_median" -> { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(dsum(col("value")).as("day_value"))
      val bounds = Tables.events(s, d)
        .agg(max(to_date(col("ts"))).as("d1"))
      // report days are OBSERVED days (a gap day inside someone's
      // trailing window is not a report row — keeps the day set
      // identical to the oracle's self-join over the daily frame)
      val contrib = daily
        .withColumn("report_day",
          explode(expr("sequence(day, date_add(day, 6), interval 1 day)")))
        .crossJoin(broadcast(bounds))
        .filter(col("report_day") <= col("d1"))
        .join(broadcast(daily.select(col("day").as("report_day"))),
          Seq("report_day"), "left_semi")
      // discrete median via QuantileRefine (rank ⌈n/2⌉, the proven
      // quantile_disc mapping); report days grow with the span. Each
      // group holds ≤7 contributions, so the old percentile_disc builtin
      // was bounded HERE — this rewire is for the zero-ordered-set-builtins
      // invariant the r13 source tripwire pins, not a scale fix.
      QuantileRefine.atRankExprs(
        contrib.select(col("report_day"), col("day_value").as("v"),
          lit(1L).as("c")),
        Seq("report_day"),
        Seq("med" -> "(n + 1) DIV 2"))
        .select(col("report_day"), col("n").as("n_days"),
          col("v").as("median_7d"))
        .orderBy("report_day")
    },

    // A21: ROLLING DISTINCT — 7-day active users per day, exact. Distinct
    // counts do not merge across window frames, so the scalable exact form
    // inverts the window: each (user, active-day) pair is exploded into the
    // 7 report-days it contributes to (constant-width Generate), then one
    // hash-aggregate counts distinct users per report day. Shuffle volume
    // is 7×|user-days| — linear, no per-day self-join, no state. (The
    // approximate alternative is a13's HLL sketches, which DO merge.)
    "a21_rolling_distinct" -> { (s, d) =>
      val userDays = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val bounds = Tables.events(s, d)
        .agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
      userDays
        .withColumn("report_day",
          explode(expr("sequence(day, date_add(day, 6), interval 1 day)")))
        .crossJoin(broadcast(bounds))
        .filter(col("report_day") <= col("d1"))
        .groupBy("report_day")
        .agg(countDistinct(col("user_id")).as("active_users_7d"))
        .orderBy("report_day")
    },

    // F15: FUNNEL analysis — ordered event-sequence conversion (first click
    // → first purchase at-or-after it), the product-analytics shape that
    // pairs with sessionization. Two grouped mins + one join keyed on the
    // (bounded) user space; the delay sum stays in integer microseconds so
    // the result is exact cross-engine, and the rate divides the same two
    // BIGINTs on both sides.
    "f15_funnel" -> { (s, d) =>
      val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id").agg(min(col("ts")).as("first_click"))
      val conv = ev.filter(col("event_type") === "purchase")
        .join(clicks, Seq("user_id"))
        .filter(col("ts") >= col("first_click"))
        .groupBy("user_id")
        .agg(min(col("ts")).as("first_purchase"), min(col("first_click")).as("first_click"))
      val a = clicks.agg(count(lit(1)).as("n_clicked"))
      val b = conv.agg(
        count(lit(1)).as("n_converted"),
        sum(expr("unix_micros(first_purchase) - unix_micros(first_click)"))
          .as("total_delay_us"))
      a.crossJoin(b)
        .withColumn("conversion_rate", col("n_converted") / col("n_clicked"))
    },

    // F19: PMI co-occurrence of event types within sessions — the
    // association score behind word2vec-era negative sampling tables and
    // item-item co-occurrence features: which event types appear in the
    // SAME session more than independence predicts. Shares w6's gap
    // sessionization, reduces each session to its DISTINCT type set, then
    // expands pairs via a session-local self-join (bounded fan-out: the
    // type vocabulary caps per-session distinct types, so the expansion
    // is ≤ |V|² per session, not |events|²; every exchange — window,
    // distinct, pair join, pair count — is keyed on session- or
    // type-scoped keys, all linear in events; an array-comprehension
    // pair expansion would leave codegen, see dd16's HOF note). The
    // score is
    // LOG-FREE (tx13's idiom): pmi_ratio = n_ab·S / (n_a·n_b) — all-
    // integer numerator/denominator, one IEEE division, bit-equal cross-
    // engine; log of a ratio is monotone in the ratio so ranking is
    // unchanged and the gate hash-checks exactly.
    "f19_session_pmi" -> { (s, d) =>
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      // st feeds FOUR consumers (session count, per-type marginals, both
      // pair-join sides) — unmaterialized, each re-runs the events scan +
      // sessionize window + distinct, quadrupling the dominant cost (the
      // r10 verdict's 4× gap at sf1 was exactly this). The distinct itself
      // already rides the window's user_id partitioning (no extra
      // exchange — plan-checked); localCheckpoint materializes the
      // (user, session, type) triple set, which is the SMALL distillate of
      // the event stream (bounded by sessions × type vocabulary), so the
      // four consumers read it instead of the corpus. dd7's discipline.
      val st = Tables.events(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("us"), 1).over(byUser))
        .withColumn("is_new",
          when(col("prev_us").isNull ||
            col("us") - col("prev_us") > GAP_MIN * 60L * 1000000L, 1L).otherwise(0L))
        .withColumn("session_id",
          sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .select("user_id", "session_id", "event_type").distinct()
        .localCheckpoint()
      val nSess = st.select("user_id", "session_id").distinct()
        .agg(count(lit(1)).as("n_sessions"))
      val nT = st.groupBy("event_type").agg(count(lit(1)).as("n_t"))
      val lhs = st.select(col("user_id"), col("session_id"), col("event_type").as("ta"))
      val rhs = st.select(col("user_id"), col("session_id"), col("event_type").as("tb"))
      lhs.join(rhs, Seq("user_id", "session_id"))
        .filter(col("ta") < col("tb"))
        .groupBy("ta", "tb").agg(count(lit(1)).as("n_ab"))
        .join(broadcast(nT.select(col("event_type").as("ta"), col("n_t").as("n_a"))), Seq("ta"))
        .join(broadcast(nT.select(col("event_type").as("tb"), col("n_t").as("n_b"))), Seq("tb"))
        .crossJoin(broadcast(nSess))
        .withColumn("pmi_ratio",
          (col("n_ab") * col("n_sessions")).cast("double") /
            (col("n_a") * col("n_b")).cast("double"))
        .select("ta", "tb", "n_ab", "n_a", "n_b", "n_sessions", "pmi_ratio")
        .orderBy("ta", "tb")
    },

    // Sessionization: a session breaks after a >30 min gap per user.
    // Two windows + two aggregations; at scale this is one shuffle on
    // user_id (the windows and both group-bys share the partitioning).
    "w6_sessionize" -> { (s, d) =>
      // exact microsecond integers for the gap test — floor-second deltas
      // (unix_timestamp) would disagree with the oracle's fractional epochs
      // on sub-second boundaries.
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val sessions = Tables.events(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("us"), 1).over(byUser))
        .withColumn("is_new",
          when(col("prev_us").isNull ||
            col("us") - col("prev_us") > GAP_MIN * 60L * 1000000L, 1L).otherwise(0L))
        .withColumn("session_id",
          sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(
          count(lit(1)).as("n_events"),
          expr("(max(us) - min(us)) div 1000000").as("session_seconds"))
      sessions
        .groupBy("user_id")
        .agg(
          countDistinct(col("session_id")).as("n_sessions"),
          sum(col("n_events")).as("n_events"),
          max(col("n_events")).as("longest_session_events"),
          max(col("session_seconds")).as("longest_session_seconds"))
        .orderBy("user_id")
    },

    // Salt-then-merge aggregation: pre-aggregate on (key, salt) so a hot key
    // spreads across partitions, then merge the partials. Exact decimal
    // partials make the two-stage result identical to the direct aggregate.
    "a12_salted_agg" -> { (s, d) =>
      val partial = Tables.lineitem(s, d)
        .withColumn("salt", pmod(col("l_orderkey"), lit(8)))
        .groupBy("l_returnflag", "salt")
        .agg(
          sum(col("l_quantity").cast("decimal(30,8)")).as("qty_partial"),
          count(lit(1)).as("n_partial"))
      partial
        .groupBy("l_returnflag")
        .agg(
          round(sum(col("qty_partial")), 4).cast("double").as("sum_qty"),
          sum(col("n_partial")).as("n"))
        .orderBy("l_returnflag")
    },

    // A13's HASH-GATED TWIN: the exact half of the sketch-vs-exact audit
    // (distinct count + interpolated median per priority) carries a full
    // DuckDB oracle, so the only thing left rows-only in a13 itself is the
    // engine-specific sketch internals — whose error BOUNDS are asserted in
    // LateRoundOpsSpec (approx_count_distinct rsd, percentile_approx
    // accuracy), making every a13 column either hash-gated here or
    // spec-bounded there.
    // Since r13 the exact median rides PercentileCont (bit-identical to
    // the builtin) — `percentile`'s final merge held a per-priority
    // value-count map of near-unique totalprices in one task.
    "a13_exact_stats" -> { (s, d) =>
      val o = Tables.orders(s, d)
      o.groupBy("o_orderpriority")
        .agg(
          countDistinct(col("o_custkey")).as("exact_distinct"),
          count(lit(1)).as("n"))
        .join(PercentileCont.group(o, Seq("o_orderpriority"),
          Seq(PercentileCont.Spec("em", "o_totalprice", 2, 4))),
          Seq("o_orderpriority"), "left")
        .select(col("o_orderpriority"), col("exact_distinct"),
          round(col("em"), 4).as("exact_median"), col("n"))
        .orderBy("o_orderpriority")
    },

    // Sketch aggregates: HLL distinct + approximate percentile next to their
    // exact counterparts. FULLY hash-gated since r12 (beyond the r11
    // verdict's rows+schema ask): raw sketch values are engine-specific, so
    // the gated columns are the exact stats plus WITHIN-BOUND booleans —
    // |approx − exact|/exact against the sketch's declared error ceiling
    // (HLL rsd 0.02 → 10% hard ceiling; percentile_approx accuracy 10000 →
    // 5% value ceiling, both far outside honest sketch error yet failed by
    // any broken sketch) — which the oracle asserts as literal TRUE. The
    // raw relative errors stay spec-asserted (LateRoundOpsSpec over
    // [[a13Full]]) and the exact columns also hash-gate standalone via the
    // a13_exact_stats twin above.
    "a13_approx_sketches" -> { (s, d) =>
      a13Full(s, d)
        .select(col("o_orderpriority"), col("exact_distinct"),
          round(col("exact_median"), 4).as("exact_median"), col("n"),
          (col("distinct_rel_err") <= 0.10).as("distinct_rel_err_ok"),
          (col("median_rel_err") <= 0.05).as("median_rel_err_ok"))
        .orderBy("o_orderpriority")
    })

  /** a13's full sketch-vs-exact frame, with raw relative errors —
    * LateRoundOpsSpec asserts the error bounds on these columns; the gate
    * ships the hashable projection. */
  private[graft] def a13Full(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    // r14 optimization (guide §1.2 step 1 / §2.3): the sketches run in a
    // SEPARATE aggregate from COUNT(DISTINCT). Mixed together, Catalyst's
    // single-distinct rewrite groups phases 1–2 by (priority, custkey) —
    // ~one group PER CUSTOMER — so every distinct customer allocated its
    // own HLL register file (2^12 words at rsd 0.02) and QuantileSummaries
    // buffer, and ObjectHashAggregate fell back to sort-based aggregation
    // past 128 groups: 19–33 s profiled at sf0.1 in ONE stage. Split, the
    // sketch aggregate keeps 5 groups end-to-end (one mergeable pass) and
    // the distinct count plans as the plain two-exchange codegen
    // HashAggregate. Values are unchanged: identical aggregate functions
    // over identical input, merged by the same commutative merge.
    val exact = o.groupBy("o_orderpriority")
      .agg(
        countDistinct(col("o_custkey")).as("exact_distinct"),
        count(lit(1)).as("n"))
    val sketches = o.groupBy("o_orderpriority")
      .agg(
        approx_count_distinct(col("o_custkey"), 0.02).as("approx_distinct"),
        percentile_approx(col("o_totalprice"), lit(0.5), lit(10000))
          .as("approx_median"))
    exact
      .join(sketches, Seq("o_orderpriority"))
      // exact median via PercentileCont (bit-identical to the builtin the
      // r11-era form used); the approx twins above are the SKETCHES under
      // audit and stay builtin by design
      .join(PercentileCont.group(o, Seq("o_orderpriority"),
        Seq(PercentileCont.Spec("exact_median", "o_totalprice", 2, 4))),
        Seq("o_orderpriority"), "left")
      .withColumn("distinct_rel_err",
        abs(col("approx_distinct") - col("exact_distinct")).cast("double") /
          col("exact_distinct"))
      .withColumn("median_rel_err",
        abs(col("approx_median") - col("exact_median")) / col("exact_median"))
  }

  /** f29's unrolled power-iteration rounds (g1's iterCtes convention). */
  private val f29Rounds: String = (1 to 8).map { k =>
    s"""r$k AS (
          SELECT wf.next_type AS state,
                 CAST(SUM((r.r * wf.n) // wf.n_from) AS BIGINT) AS r
          FROM wf JOIN r${k - 1} r ON r.state = wf.prev_type
          GROUP BY 1)"""
  }.mkString(",\n")

  val oracles: Map[String, String] = Map(
    "a13_exact_stats" ->
      """SELECT o_orderpriority,
                CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
                ROUND(quantile_cont(o_totalprice, 0.5), 4) AS exact_median,
                COUNT(*) AS n
         FROM orders GROUP BY 1 ORDER BY 1""",

    // The booleans assert |approx − exact|/exact within the sketch's
    // declared ceiling — engine-independent, so the oracle states them as
    // literals and the whole row hash-gates (see the gate's scaladoc).
    "a13_approx_sketches" ->
      """SELECT o_orderpriority,
                CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
                ROUND(quantile_cont(o_totalprice, 0.5), 4) AS exact_median,
                COUNT(*) AS n,
                TRUE AS distinct_rel_err_ok,
                TRUE AS median_rel_err_ok
         FROM orders GROUP BY 1 ORDER BY 1""",

    "f29_markov_stationary" ->
      s"""WITH e AS (
            SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
            FROM events),
          p AS (
            SELECT LAG(event_type) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id) AS prev_type,
                   event_type AS next_type
            FROM e),
          pairs AS (
            SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2),
          marg AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS n_from
                   FROM pairs GROUP BY 1),
          wf AS (
            SELECT pr.prev_type, pr.next_type, pr.n, m.n_from
            FROM pairs pr JOIN marg m ON pr.prev_type = m.prev_type),
          states AS (SELECT DISTINCT prev_type AS state FROM wf),
          con AS (SELECT 1000000000000 // COUNT(*) AS r0 FROM states),
          r0 AS (SELECT state, (SELECT r0 FROM con) AS r FROM states),
          $f29Rounds,
          emp AS (SELECT event_type AS state, CAST(COUNT(*) AS BIGINT) AS n_events
                  FROM events GROUP BY 1),
          tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS n_total FROM emp)
          SELECT r8.state, CAST(r8.r AS BIGINT) AS stationary_scaled,
                 emp.n_events,
                 ROUND(1e-9 + CAST(r8.r AS DOUBLE) / 1000000000000, 6) + 0.0
                   AS stationary_share,
                 ROUND(1e-9 + CAST(emp.n_events AS DOUBLE) / t.n_total, 6) + 0.0
                   AS empirical_share
          FROM r8 JOIN emp ON emp.state = r8.state CROSS JOIN tot t
          ORDER BY r8.state""",

    "f27_markov_transitions" ->
      """WITH e AS (
           SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
           FROM events),
         p AS (
           SELECT LAG(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS prev_type,
                  event_type AS next_type
           FROM e),
         pairs AS (
           SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
           FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2),
         marg AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS n_from
                  FROM pairs GROUP BY 1)
         SELECT pr.prev_type, pr.next_type, pr.n,
                ROUND(1e-9 + CAST(pr.n AS DOUBLE) / m.n_from, 6) + 0.0 AS prob,
                pr.prev_type = pr.next_type AS is_self_loop
         FROM pairs pr JOIN marg m ON pr.prev_type = m.prev_type
         ORDER BY pr.prev_type, pr.next_type""",

    // Same grid, same integer thresholds; bucket bounds re-derive from
    // (min, width) with the identical IEEE expression tree.
    "a22_grid_quantiles" ->
      """WITH b AS (SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi,
                           COUNT(*) AS n
                    FROM lineitem),
          binned AS (SELECT CAST(LEAST(FLOOR((l_extendedprice - b.lo) /
                                             ((b.hi - b.lo) / 1000)), 999) AS BIGINT)
                              AS bucket
                     FROM lineitem, b),
          h AS (SELECT bucket, COUNT(*) AS c FROM binned GROUP BY 1),
          cum AS (SELECT bucket,
                         SUM(c) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum
                  FROM h),
          q(q_num, q_den) AS (VALUES (1, 2), (9, 10), (99, 100)),
          sel AS (SELECT q_num, q_den, MIN(bucket) AS bucket
                  FROM cum, q, b
                  WHERE cum * q_den >= b.n * q_num
                  GROUP BY 1, 2)
          SELECT CAST(q_num AS DOUBLE) / q_den AS q, bucket, b.n AS n,
                 b.lo + bucket * ((b.hi - b.lo) / 1000) AS approx_lo,
                 b.lo + (bucket + 1) * ((b.hi - b.lo) / 1000) AS approx_hi
          FROM sel, b ORDER BY q""",

    // replay: report day d counts users active in [d-6, d] — the windowed
    // form of the same count.
    // Windowed replay: report day d takes the discrete median of daily
    // totals in [d-6, d] — same dsum day values, same discrete rule.
    "w18_rolling_median" ->
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS day,
                  CAST(ROUND(SUM(CAST("value" AS DECIMAL(30,8))), 4) AS DOUBLE)
                    AS day_value
           FROM events GROUP BY 1),
          b AS (SELECT MAX(day) AS d1 FROM daily)
          SELECT d.day AS report_day, COUNT(*) AS n_days,
                 quantile_disc(c.day_value, 0.5) AS median_7d
          FROM daily d
          JOIN daily c ON c.day BETWEEN d.day - INTERVAL 6 DAY AND d.day, b
          WHERE d.day <= b.d1
          GROUP BY 1 ORDER BY 1""",

    "a21_rolling_distinct" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
          b AS (SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events),
          days AS (SELECT CAST(g.d AS DATE) AS report_day
                   FROM b, UNNEST(generate_series(CAST(d0 AS TIMESTAMP),
                                                  CAST(d1 + INTERVAL 6 DAY AS TIMESTAMP),
                                                  INTERVAL 1 DAY)) AS g(d)
                   WHERE CAST(g.d AS DATE) <= b.d1)
          SELECT d.report_day, COUNT(DISTINCT u.user_id) AS active_users_7d
          FROM days d JOIN ud u
            ON u.day BETWEEN d.report_day - INTERVAL 6 DAY AND d.report_day
          GROUP BY 1 ORDER BY 1""",

    "f15_funnel" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
          c AS (SELECT user_id, MIN(ts) AS first_click FROM e
                WHERE event_type = 'click' GROUP BY 1),
          p AS (SELECT e.user_id, MIN(e.ts) AS first_purchase,
                       MIN(c.first_click) AS first_click
                FROM e JOIN c USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts >= c.first_click
                GROUP BY 1),
          a AS (SELECT COUNT(*) AS n_clicked FROM c),
          b AS (SELECT COUNT(*) AS n_converted,
                       CAST(SUM(epoch_us(first_purchase) - epoch_us(first_click)) AS BIGINT) AS total_delay_us
                FROM p)
          SELECT a.n_clicked, b.n_converted, b.total_delay_us,
                 CAST(b.n_converted AS DOUBLE) / a.n_clicked AS conversion_rate
          FROM a, b""",

    // Same session CTEs as w6 with event_type carried through; the pair
    // CTE mirrors the self-join, the score the same integer ratio.
    "f19_session_pmi" ->
      s"""WITH g AS (
            SELECT user_id, event_id, event_type,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                   LAG(epoch_us(CAST(ts AS TIMESTAMP)), 1)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
            FROM events),
          flagged AS (
            SELECT user_id, event_id, event_type, us,
                   CASE WHEN prev_us IS NULL
                          OR us - prev_us > ${GAP_MIN * 60L * 1000000L}
                        THEN 1 ELSE 0 END AS is_new
            FROM g),
          numbered AS (
            SELECT user_id, event_type,
                   SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged),
          st AS (SELECT DISTINCT user_id, session_id, event_type FROM numbered),
          ns AS (SELECT COUNT(*) AS n_sessions
                 FROM (SELECT DISTINCT user_id, session_id FROM st)),
          nt AS (SELECT event_type, COUNT(*) AS n_t FROM st GROUP BY 1),
          p AS (SELECT a.event_type AS ta, b.event_type AS tb, COUNT(*) AS n_ab
                FROM st a
                JOIN st b ON a.user_id = b.user_id
                         AND a.session_id = b.session_id
                         AND a.event_type < b.event_type
                GROUP BY 1, 2)
          SELECT ta, tb, n_ab,
                 na.n_t AS n_a, nb.n_t AS n_b, ns.n_sessions,
                 CAST(n_ab * ns.n_sessions AS DOUBLE) / (na.n_t * nb.n_t) AS pmi_ratio
          FROM p
          JOIN nt na ON na.event_type = ta
          JOIN nt nb ON nb.event_type = tb, ns
          ORDER BY ta, tb""",

    "w6_sessionize" ->
      s"""WITH g AS (
            SELECT user_id, event_id,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                   LAG(epoch_us(CAST(ts AS TIMESTAMP)), 1)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
            FROM events),
          flagged AS (
            SELECT user_id, event_id, us,
                   CASE WHEN prev_us IS NULL
                          OR us - prev_us > ${GAP_MIN * 60L * 1000000L}
                        THEN 1 ELSE 0 END AS is_new
            FROM g),
          numbered AS (
            SELECT user_id, us,
                   SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged),
          sessions AS (
            SELECT user_id, session_id, COUNT(*) AS n_events,
                   (MAX(us) - MIN(us)) // 1000000 AS session_seconds
            FROM numbered GROUP BY 1, 2)
          SELECT user_id,
                 COUNT(DISTINCT session_id) AS n_sessions,
                 CAST(SUM(n_events) AS BIGINT) AS n_events,
                 MAX(n_events) AS longest_session_events,
                 MAX(session_seconds) AS longest_session_seconds
          FROM sessions GROUP BY 1 ORDER BY 1""",

    "a12_salted_agg" ->
      """SELECT l_returnflag,
                CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(30,8))), 4) AS DOUBLE) AS sum_qty,
                COUNT(*) AS n
         FROM lineitem GROUP BY 1 ORDER BY 1""")
}
