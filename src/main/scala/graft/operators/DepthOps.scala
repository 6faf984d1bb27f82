package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Exact._

/** Round-2 depth batch: ordered-set aggregates (percentile_disc /
  * deterministic mode), the value-window family (first/last/nth/lead/lag
  * with defaults), a regex/string-transform battery, time-series gap-fill
  * (spine + carry-forward interpolation — the resample primitive every
  * training-data pipeline needs), and partitioned-write + partition-pruned
  * read (the Spark replacement for the reference's date indexes at 100 TB).
  */
object DepthOps extends graft.QueryFamily {
  // s5/s13's hive-layout table, laid out once per (session, source dir).
  private val partitionedEvents =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()

  private def partitionedEventsDir(s: SparkSession, d: String): String =
    partitionedEvents.computeIfAbsent((s, d), { _ =>
      val dir = java.nio.file.Files.createTempDirectory("graft_part_").toString
      Tables.events(s, d)
        .withColumn("event_date", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("event_date").parquet(dir)
      dir
    })

  // s12's two-generation layout, written once per (session, source dir).
  private val evolvedLineitem =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()

  val queries: Map[String, Q] = Map(
    // A26: WEIGHTED median — the estimator a26 pipelines reach for when
    // rows carry unequal mass (price weighted by quantity: "the median
    // dollar", not the median line). The weighted median is the first
    // price whose running weight reaches half the group total; since equal
    // prices accumulate contiguously under any price-ordered total order,
    // that selection is purely a function of the (price → total weight)
    // count table, so since r12 it runs through QuantileRefine at weighted
    // rank ceil(tw/2) — no per-group row window over the fact (the
    // previous form cum-summed every RAW row in one partitioned window; at
    // sf1 the 3 flags put ~2M rows in each window task). The picked value
    // is an actual data element → bit-stable, no interpolation.
    "a26_weighted_median" -> { (s, d) =>
      val rows = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice").as("v"),
          col("l_quantity").cast("long").as("c"))
      QuantileRefine.atRankExprs(rows, Seq("l_returnflag"),
        Seq("wm" -> "(n + 1) DIV 2"))
        .select(col("l_returnflag"), col("n").as("total_weight"),
          col("v").as("weighted_median_price"))
        .orderBy("l_returnflag")
    },

    // A27: GROUP QUANTILE PROFILE — the p10..p99 discrete-quantile battery
    // per group (the feature-distribution snapshot a data card or drift
    // monitor ships), all six ranks from ONE QuantileRefine batch: one
    // bit-prefix histogram pass + one residual pass over the fact, total —
    // not six percentile sort-aggs. Rank mapping ceil(q·n) as exact
    // integer arithmetic; DuckDB's quantile_disc matches it (probed over
    // 200 random multisets × 6 q values in r12), so every cell hash-gates.
    "a27_group_quantiles" -> { (s, d) =>
      val rows = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice").as("v"),
          lit(1L).as("c"))
      val vals = QuantileRefine.atRankExprs(rows, Seq("l_returnflag"),
        Seq("p10" -> "(n + 9) DIV 10", "p25" -> "(n + 3) DIV 4",
          "p50" -> "(n + 1) DIV 2", "p75" -> "(3 * n + 3) DIV 4",
          "p90" -> "(9 * n + 9) DIV 10", "p99" -> "(99 * n + 99) DIV 100"))
      def pick(rid: String) = max(when(col("rid") === rid, col("v")))
      vals.groupBy("l_returnflag")
        .agg(max(col("n")).as("n"),
          pick("p10").as("p10"), pick("p25").as("p25"), pick("p50").as("p50"),
          pick("p75").as("p75"), pick("p90").as("p90"), pick("p99").as("p99"))
        .orderBy("l_returnflag")
    },

    // A28: TRIMMED MEAN — the robust location estimate feature pipelines
    // use when plain means are poisoned by tail outliers but a median
    // throws away too much signal: drop everything outside the [p10, p90]
    // discrete-quantile fences, then exact-decimal-average what remains.
    // Fences ride ONE QuantileRefine batch (2 mergeable corpus passes, no
    // single-task value map); the fence frame grows with GROUPS (3 flags —
    // fixed), so the broadcast hint is inside the hint policy; the kept-set
    // aggregate is one more corpus pass. Inclusive fences on both sides:
    // ties AT a fence are kept deterministically on both engines.
    "a28_trimmed_mean" -> { (s, d) =>
      val rows = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice").as("v"),
          lit(1L).as("c"))
      val at = QuantileRefine.atRankExprs(rows, Seq("l_returnflag"),
        Seq("lo" -> "(n + 9) DIV 10", "hi" -> "(9 * n + 9) DIV 10"))
      def pick(rid: String) = max(when(col("rid") === rid, col("v")))
      val fences = at.groupBy("l_returnflag")
        .agg(pick("lo").as("fence_lo"), pick("hi").as("fence_hi"))
      Tables.lineitem(s, d).join(broadcast(fences), Seq("l_returnflag"))
        .filter(col("l_extendedprice") >= col("fence_lo") &&
          col("l_extendedprice") <= col("fence_hi"))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_kept"),
          davg(col("l_extendedprice")).as("trimmed_mean"),
          max(col("fence_lo")).as("fence_lo"),
          max(col("fence_hi")).as("fence_hi"))
        .select(col("l_returnflag"), col("n_kept"), col("trimmed_mean"),
          col("fence_lo"), col("fence_hi"))
        .orderBy("l_returnflag")
    },

    // A29: EQUI-WIDTH HISTOGRAM PROFILE — the 10-bin per-group value
    // histogram every data-profiling / drift-monitoring pass ships next to
    // a27's quantile profile. Two mergeable passes: per-group min/max, then
    // a bucket count with the 3-row stats frame broadcast (grows with
    // GROUPS, fixed here). Bin index and bin_lo are the identical double
    // expression tree on both engines (width = (mx−mn)/10 computed first,
    // then one division / one multiply-add), so every cell hash-gates; the
    // max value clamps into bin 9 via LEAST, and a degenerate group
    // (mx = mn) collapses to bin 0 on both sides.
    "a29_equiwidth_histogram" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice").as("v"))
      val stats = li.groupBy("l_returnflag")
        .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      def width = (col("mx") - col("mn")) / 10.0
      li.join(broadcast(stats), Seq("l_returnflag"))
        .withColumn("bin",
          when(col("mx") === col("mn"), lit(0L))
            .otherwise(least(lit(9L),
              floor((col("v") - col("mn")) / width).cast("long"))))
        .groupBy(col("l_returnflag"), col("bin"), col("mn"), col("mx"))
        .agg(count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("bin"), col("n"),
          (col("mn") + col("bin").cast("double") * width).as("bin_lo"))
        .orderBy("l_returnflag", "bin")
    },

    // TS8: seasonal decomposition (the moving-average STL skeleton) — per
    // event type: trend = centered 7-day MA over the exact-decimal daily
    // totals (only full windows emit, so edges don't bias), seasonal =
    // per-day-of-week mean of the detrended series. The detrended doubles
    // are identical cross-engine (same dsum inputs, same MA chain), and
    // their per-DOW mean goes back through the decimal-sum shape so
    // accumulation order can't drift. DOW is pure integer date arithmetic
    // (days since a fixed Monday, mod 7) — no engine DOW-convention trap.
    // Two partitioned windows + two hash-aggs, everything keyed tiny.
    "ts8_seasonal_decompose" -> { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(dsum(col("value")).as("dv"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-3, 3)
      val trended = daily
        .withColumn("n_win", count(lit(1)).over(w))
        .withColumn("trend",
          round(sum(col("dv").cast("decimal(30,8)")).over(w), 4).cast("double") / 7)
        .filter(col("n_win") === 7)
        .withColumn("detrended", col("dv") - col("trend"))
        .withColumn("dow", expr("pmod(datediff(day, DATE'2000-01-03'), 7)").cast("long"))
      trended
        .groupBy("event_type", "dow")
        .agg(
          count(lit(1)).as("n_days"),
          (round(sum(col("detrended").cast("decimal(30,8)")), 4).cast("double") /
            count(lit(1))).as("seasonal_raw"))
        .select(col("event_type"), col("dow"), col("n_days"),
          stableRound(col("seasonal_raw"), 4).as("seasonal"))
        .orderBy("event_type", "dow")
    },

    // A18: ordered-set aggregates. percentile_disc picks an actual element
    // (hash-exact across engines, unlike interpolating percentile_cont,
    // which is rounded); mode is computed as an explicit deterministic
    // argmax — highest count, smallest value on ties — because native
    // mode() tie-breaking is engine-defined on both sides.
    //
    // Since r12 all three quantiles come from QuantileRefine over one
    // shared (flag, value)-count table — the previous percentile_disc /
    // percentile_cont sort-aggs funneled each group's raw rows into one
    // sort buffer per group (the w12-class bound). Rank mapping:
    //   percentile_disc(q)  = value at weighted rank ceil(q·n)
    //   percentile_cont(.5) = lower + (upper − lower)·0.5 at real position
    //                         (n+1)/2, i.e. ranks ⌊(n+1)/2⌋ and ⌊n/2⌋+1
    // (QuantileRefineSpec pins both mappings against the built-ins). The
    // mode window is replaced by a struct-argmax hash-agg on the same
    // count table.
    "a18_ordered_set" -> { (s, d) =>
      val cnt = graft.CacheScope.persistScoped(
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"), col("l_quantity").as("v"))
          .agg(count(lit(1)).as("c")))
      val vals = QuantileRefine.atRankExprs(cnt, Seq("l_returnflag"),
        Seq("q25" -> "(n + 3) DIV 4", "med" -> "(n + 1) DIV 2",
          "clo" -> "(n + 1) DIV 2", "chi" -> "n DIV 2 + 1"))
      def pick(rid: String) = max(when(col("rid") === rid, col("v")))
      val quantiles = vals.groupBy("l_returnflag")
        .agg(
          pick("q25").as("q25_disc"),
          pick("med").as("median_disc"),
          round(pick("clo") + (pick("chi") - pick("clo")) * 0.5, 4).as("median_cont"))
      val mode = cnt.groupBy("l_returnflag")
        .agg(max(struct(col("c"), (-col("v")).as("nv"))).as("b"))
        .select(col("l_returnflag"),
          (-col("b.nv")).as("mode_qty"), col("b.c").as("mode_n"))
      quantiles.join(mode, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("q25_disc"), col("median_disc"),
          col("median_cont"), col("mode_qty"), col("mode_n"))
        .orderBy("l_returnflag")
    },

    // W10: value windows — first/last/nth over an explicit full frame,
    // lead/lag with literal defaults, all on one total order.
    "w10_value_windows" -> { (s, d) =>
      val order = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"))
      val ordered = Window.partitionBy("l_returnflag").orderBy(order: _*)
      val full = ordered.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 500)
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_returnflag"),
          first(col("l_quantity")).over(full).as("first_qty"),
          last(col("l_quantity")).over(full).as("last_qty"),
          nth_value(col("l_quantity"), 2).over(full).as("second_qty"),
          lead(col("l_extendedprice"), 2, -1.0).over(ordered).as("next2_price"),
          lag(col("l_extendedprice"), 1, 0.0).over(ordered).as("prev_price"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    },

    // F10: regex + string-transform battery (all codegen'd builtins).
    "f10_regex_battery" -> { (s, d) =>
      Tables.part(s, d)
        .select(
          col("p_partkey"),
          regexp_extract(col("p_brand"), "Brand#([0-9]+)", 1).as("brand_num"),
          translate(col("p_name"), "aeiou", "AEIOU").as("upper_vowels"),
          reverse(split(col("p_name"), " ").getItem(0)).as("rev_first_word"),
          expr("repeat(p_brand, 2)").as("brand_twice"),
          instr(col("p_name"), "e").cast("long").as("first_e_pos"),
          expr("left(p_name, 5)").as("left5"),
          expr("right(p_type, 4)").as("right4"),
          array_join(expr("regexp_extract_all(p_type, '[A-Z]+', 0)"), "|").as("caps_runs"))
        .orderBy("p_partkey")
    },

    // TS1: time-series gap-fill — per-user daily spine between first and
    // last activity (sequence + explode), left join of actual daily
    // aggregates, carry-forward fill of the last observed value. One
    // shuffle on user_id; the spine explode is partition-local.
    "ts1_gap_fill" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .filter(col("user_id") < 20)
        .withColumn("day", to_date(col("ts")))
      val daily = ev.groupBy("user_id", "day")
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("day_value"))
      val spine = ev.groupBy("user_id")
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val carry = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("user_id", "day"), "left")
        .select(
          col("user_id"), col("day"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          col("day_value"),
          last(col("day_value"), ignoreNulls = true).over(carry).as("filled_value"))
        .orderBy("user_id", "day")
    },

    // TS3: rolling-window anomaly detection — per user, each day's value
    // scored against the PRIOR 7 days' baseline (mean + population std
    // from the sum/sum-of-squares identity), |dev| > 2σ flagged once the
    // baseline holds ≥4 points. The frame EXCLUDES the current row — an
    // inclusive window would let a spike inflate its own baseline and
    // self-mask (with the spike inside, |x−mean|/σ is bounded by √(n−1),
    // so 2σ is unreachable at n=4). The metric-drift alarm a pipeline
    // runs over ingest volumes. ONE exchange on the entity key: both
    // rolling sums are RANGE-framed windows over the day index (gap-aware
    // — missing days shrink the window rather than stretching it),
    // decimal-exact via dsumOver so the frame sums hash-match; squares
    // stable-round (+1e-9) before the decimal cast per the repo
    // convention. Mean/std/flag are then IEEE ops on bit-identical
    // inputs; both are NULL until the baseline has at least one day.
    "ts3_rolling_anomaly" -> { (s, d) =>
      val daily = Tables.events(s, d)
        .filter(col("user_id") < 20)
        .withColumn("day", to_date(col("ts")))
        .groupBy("user_id", "day")
        .agg(dsum(col("value")).as("day_value"))
        .withColumn("dn", datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
      val w = Window.partitionBy("user_id").orderBy("dn").rangeBetween(-7, -1)
      daily
        .withColumn("roll_n", count(lit(1)).over(w))
        .withColumn("roll_sum", dsumOver(col("day_value"), w))
        .withColumn("roll_sumsq",
          dsumOver(round(col("day_value") * col("day_value") + lit(1e-9), 4), w))
        .withColumn("roll_mean",
          when(col("roll_n") > 0L, col("roll_sum") / col("roll_n")))
        .withColumn("roll_std",
          when(col("roll_n") > 0L, sqrt(greatest(
            (col("roll_sumsq") - col("roll_sum") * col("roll_sum") / col("roll_n")) /
              col("roll_n"), lit(0.0)))))
        .withColumn("is_anomaly",
          col("roll_n") >= 4L && col("roll_std") > 0.0 &&
            abs(col("day_value") - col("roll_mean")) > col("roll_std") * 2.0)
        .select(col("user_id"), col("day"), col("day_value"), col("roll_n"),
          col("roll_mean"), col("roll_std"), col("is_anomaly"))
        .orderBy("user_id", "day")
    },

    // W13: WINSORIZATION — clamp each value into its group's [p01, p99]
    // band, the standard tail-taming transform before training on heavy-
    // tailed features (keeps the row, unlike outlier DROPS, so no
    // distribution shift in row counts). Discrete quantile fences (data
    // elements, exact cross-engine) broadcast to a single clamp scan; the
    // gate aggregates the winsorized column with the exact decimal sum so
    // the whole transform is hash-checked.
    // Since r13 the fences ride QuantileRefine (rank ceil(q·n), the
    // a27-proven quantile_disc mapping) instead of the percentile_disc
    // builtin's one-task value-count map over near-unique prices.
    "w13_winsorize" -> { (s, d) =>
      val at = QuantileRefine.atRankExprs(
        Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_extendedprice").as("v"),
            lit(1L).as("c")),
        Seq("l_returnflag"),
        Seq("p01" -> "(n + 99) DIV 100", "p99" -> "(99 * n + 99) DIV 100"))
      def pick(rid: String) = max(when(col("rid") === rid, col("v")))
      val fences = at.groupBy("l_returnflag")
        .agg(pick("p01").as("p01"), pick("p99").as("p99"))
      Tables.lineitem(s, d)
        .join(broadcast(fences), Seq("l_returnflag"))
        .withColumn("wz",
          least(greatest(col("l_extendedprice"), col("p01")), col("p99")))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("l_extendedprice") < col("p01"), 1L).otherwise(0L)).as("n_clamped_low"),
          sum(when(col("l_extendedprice") > col("p99"), 1L).otherwise(0L)).as("n_clamped_high"),
          dsum(col("wz")).as("winsorized_sum"),
          max(col("p01")).as("p01"), max(col("p99")).as("p99"))
        .orderBy("l_returnflag")
    },

    // W12: ROBUST dispersion — median absolute deviation per group, the
    // outlier-insensitive scale estimate training pipelines normalize with
    // when means/stddevs are poisoned by heavy tails. Two discrete-median
    // passes (group median, then median of |x - med|) — disc quantiles are
    // actual data elements, bit-identical cross-engine — plus a 3-MAD
    // outlier census whose fence is the same double expression tree on
    // both sides.
    //
    // Scale shape (r12): both medians run through
    // [[QuantileRefine.atRankExprs]] straight over the fact rows — each
    // median is bucket-histogram agg (mergeable) → locate bucket on a
    // constant-size table → exact pass over the residual interval. No task
    // ever sorts a whole group (the r11-documented bound, retired), and
    // nothing corpus-sized is persisted: the r11 interim form cached a
    // (flag, price)-count table that is ~fact-sized (prices are nearly
    // unique), so once ADVICE r11's cache-reuse skew was fixed, every
    // timed run paid a 0.67 s (sf0.1) InMemoryRelation build before any
    // real work; the histogram passes replace that with plain hash-aggs
    // over the session-cached base table (w12 2.83 → ~0.9 s sf0.1 honest).
    // The 3-row median/MAD frames ARE scope-persisted: they are the only
    // subtrees with 2+ consumers, and caching them costs nothing while
    // guaranteeing the refinement chain never re-executes even where
    // exchange reuse fails to fire.
    "w12_robust_mad" -> { (s, d) =>
      val rows = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice").as("v"),
          lit(1L).as("c"))
      // discrete median: smallest v with cum·2 ≥ n ⟺ weighted rank ceil(n/2)
      def discMedian(in: DataFrame, out: String): DataFrame =
        graft.CacheScope.persistScoped(
          QuantileRefine.atRankExprs(in, Seq("l_returnflag"),
            Seq(out -> "(n + 1) DIV 2"))
            .select(col("l_returnflag"), col("v").as(out)))
      val med = discMedian(rows, "med")
      val dev = rows.join(broadcast(med), Seq("l_returnflag"))
        .select(col("l_returnflag"),
          abs(col("v") - col("med")).as("v"), col("c"), col("med"))
      val mad = discMedian(dev, "mad")
      dev.join(broadcast(mad), Seq("l_returnflag"))
        .groupBy("l_returnflag")
        .agg(
          max(col("med")).as("med"),
          max(col("mad")).as("mad"),
          sum(when(col("v") > lit(3) * col("mad"), col("c")).otherwise(0L))
            .as("n_outliers"))
        .orderBy("l_returnflag")
    },

    // TS9: autocorrelation diagnostics — ACF at lags 1, 2, 7 per event
    // type over the exact-decimal daily series (the "is there weekly
    // structure / is this series white" check run before any forecasting
    // or anomaly model). Deviations are from the decimal-exact mean, the
    // lag pairing is an equi self-join on (type, day + k) — no window
    // per lag, no explode of the corpus — and both the lag products and
    // the variance accumulate through the decimal-sum shape, so the
    // quotient is bit-stable. Everything after the daily rollup touches
    // only calendar-sized data.
    "ts9_acf" -> { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(dsum(col("value")).as("dv"))
      val stats = daily.groupBy("event_type").agg(
        count(lit(1)).as("n_days"),
        (round(sum(col("dv").cast("decimal(30,8)")), 4).cast("double") /
          count(lit(1))).as("m"))
      val dev = daily.join(broadcast(stats), "event_type")
        .select(col("event_type"), col("day"), (col("dv") - col("m")).as("dev"))
      val den = dev.groupBy("event_type").agg(
        round(sum((col("dev") * col("dev")).cast("decimal(30,8)")), 4)
          .cast("double").as("den"))
      val lags = Seq(1, 2, 7).map(k =>
        dev.as("a").join(dev.as("b"),
            col("a.event_type") === col("b.event_type") &&
              col("b.day") === date_add(col("a.day"), k))
          .groupBy(col("a.event_type").as("event_type"))
          .agg(count(lit(1)).as("n_terms"),
            round(sum((col("a.dev") * col("b.dev")).cast("decimal(30,8)")), 4)
              .cast("double").as("num"))
          .withColumn("lag", lit(k.toLong)))
      lags.reduce(_ unionAll _)
        .join(broadcast(den), "event_type")
        .select(col("event_type"), col("lag"), col("n_terms"),
          stableRound(col("num") / col("den"), 6).as("acf"))
        .orderBy("event_type", "lag")
    },

    // TS2: LINEAR-interpolation resample — ts1's spine with the other
    // standard fill: a missing grid point interpolates between its last and
    // next OBSERVED neighbors, weighted by day distance (edges fall back to
    // the nearest observation). The neighbor scan is two window passes over
    // the spine (no self-join); the lerp is the identical double expression
    // tree on both engines, so only the final display ROUND is needed.
    "ts2_linear_interp" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .filter(col("user_id") < 20)
        .withColumn("day", to_date(col("ts")))
      val daily = ev.groupBy("user_id", "day")
        .agg(dsum(col("value")).as("day_value"))
      val spine = ev.groupBy("user_id")
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val wPrev = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      spine.join(daily, Seq("user_id", "day"), "left")
        .withColumn("prev_v", last(col("day_value"), ignoreNulls = true).over(wPrev))
        .withColumn("prev_d",
          last(when(col("day_value").isNotNull, col("day")), ignoreNulls = true).over(wPrev))
        .withColumn("next_v", first(col("day_value"), ignoreNulls = true).over(wNext))
        .withColumn("next_d",
          first(when(col("day_value").isNotNull, col("day")), ignoreNulls = true).over(wNext))
        .select(col("user_id"), col("day"), col("day_value"),
          round(
            when(col("day_value").isNotNull, col("day_value"))
              .when(col("prev_v").isNull, col("next_v"))
              .when(col("next_v").isNull, col("prev_v"))
              .otherwise(col("prev_v") + (col("next_v") - col("prev_v")) *
                (datediff(col("day"), col("prev_d")).cast("double") /
                  datediff(col("next_d"), col("prev_d")).cast("double"))),
            4).as("interp_value"))
        .orderBy("user_id", "day")
    },

    // S5: partitioned write + partition-pruned read. The write lays the
    // data out hive-style by event_date; the read's date predicate prunes
    // to ONE directory before any IO (PlanAuditSpec asserts the partition
    // filter) — the replacement for the reference's idx_trips_date indexes.
    // The write is memoized per (session, source dir): the operator under
    // test is the pruned READ, and re-laying the table out on every call
    // made the gate time the write instead (1.65 s of 1.65 s in round 2).
    "s5_partition_pruning" -> { (s, d) =>
      s.read.parquet(partitionedEventsDir(s, d))
        .filter(col("event_date") === lit("2024-01-15").cast("date"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .orderBy("event_type")
    },

    // S13: DYNAMIC partition pruning — s5's static prune needs the literal
    // in the query; here the pruning dates are only known by JOINING a dim
    // (the star-schema reality at 100 TB: "scan the fact for dates WHERE
    // dim says Monday"). Spark plants a dynamicpruning subquery on the
    // fact's partition column from the broadcast dim side, so only the
    // matching partitions are read at runtime — without DPP this is a full
    // fact scan. PlanAuditSpec asserts the dynamicpruning expression.
    "s13_dynamic_pruning" -> { (s, d) =>
      val fact = s.read.parquet(partitionedEventsDir(s, d))
      val dateDim = fact.select(col("event_date")).distinct()
        .withColumn("dow", dayofweek(col("event_date")))
      fact.join(broadcast(dateDim.filter(col("dow") === 2)), Seq("event_date"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .orderBy("event_type")
    },

    // S12: SCHEMA EVOLUTION across file generations — the 100 TB reality
    // that a corpus accumulated over years has files written before a
    // column existed. Generation 1 lacks l_discount; generation 2 carries
    // it. `mergeSchema` unions the footers into one read schema (missing
    // columns read as NULL) and the gen= dirs double as discovered hive
    // partitions. The aggregate proves NULL-fill semantics: gen 1 rows
    // count 0 non-null discounts.
    "s12_schema_evolution" -> { (s, d) =>
      val dir = evolvedLineitem.computeIfAbsent((s, d), { _ =>
        val base = java.nio.file.Files.createTempDirectory("graft_evo_").toString
        val li = Tables.lineitem(s, d)
        li.filter(col("l_linenumber") === 1)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
          .write.mode("overwrite").parquet(s"$base/gen=1")
        li.filter(col("l_linenumber") =!= 1)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
            "l_discount")
          .write.mode("overwrite").parquet(s"$base/gen=2")
        base
      })
      s.read.option("mergeSchema", "true").parquet(dir)
        .groupBy("gen")
        .agg(
          count(lit(1)).as("n"),
          count(col("l_discount")).as("n_discount"),
          dsum(col("l_discount")).as("sum_discount"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("gen")
    })

  val oracles: Map[String, String] = Map(
    "a29_equiwidth_histogram" ->
      """WITH s AS (
           SELECT l_returnflag, MIN(l_extendedprice) AS mn,
                  MAX(l_extendedprice) AS mx
           FROM lineitem GROUP BY 1),
         b AS (
           SELECT l.l_returnflag, s.mn, s.mx,
                  CASE WHEN s.mx = s.mn THEN 0
                       ELSE LEAST(9, CAST(FLOOR((l.l_extendedprice - s.mn)
                              / ((s.mx - s.mn) / 10)) AS BIGINT)) END AS bin
           FROM lineitem l JOIN s ON l.l_returnflag = s.l_returnflag)
         SELECT l_returnflag, CAST(bin AS BIGINT) AS bin,
                CAST(COUNT(*) AS BIGINT) AS n,
                mn + CAST(bin AS DOUBLE) * ((mx - mn) / 10) AS bin_lo
         FROM b GROUP BY l_returnflag, bin, mn, mx ORDER BY 1, 2""",

    "a28_trimmed_mean" ->
      """WITH f AS (
           SELECT l_returnflag,
                  quantile_disc(l_extendedprice, 0.10) AS lo,
                  quantile_disc(l_extendedprice, 0.90) AS hi
           FROM lineitem GROUP BY 1)
         SELECT l.l_returnflag,
                CAST(COUNT(*) AS BIGINT) AS n_kept,
                CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(30,8))), 4) AS DOUBLE)
                  / COUNT(*) AS trimmed_mean,
                MAX(f.lo) AS fence_lo,
                MAX(f.hi) AS fence_hi
         FROM lineitem l JOIN f ON l.l_returnflag = f.l_returnflag
         WHERE l.l_extendedprice >= f.lo AND l.l_extendedprice <= f.hi
         GROUP BY 1 ORDER BY 1""",

    "a27_group_quantiles" ->
      """SELECT l_returnflag,
                CAST(COUNT(*) AS BIGINT) AS n,
                quantile_disc(l_extendedprice, 0.10) AS p10,
                quantile_disc(l_extendedprice, 0.25) AS p25,
                quantile_disc(l_extendedprice, 0.50) AS p50,
                quantile_disc(l_extendedprice, 0.75) AS p75,
                quantile_disc(l_extendedprice, 0.90) AS p90,
                quantile_disc(l_extendedprice, 0.99) AS p99
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    "a26_weighted_median" ->
      """WITH li AS (
           SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
                  CAST(l_quantity AS BIGINT) AS qty
           FROM lineitem),
         c AS (
           SELECT *,
                  SUM(qty) OVER (PARTITION BY l_returnflag
                    ORDER BY l_extendedprice, l_orderkey, l_linenumber
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
                  SUM(qty) OVER (PARTITION BY l_returnflag) AS tw
           FROM li),
         q AS (
           SELECT *,
                  ROW_NUMBER() OVER (PARTITION BY l_returnflag
                    ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn
           FROM c WHERE cumw * 2 >= tw)
         SELECT l_returnflag,
                CAST(tw AS BIGINT) AS total_weight,
                l_extendedprice AS weighted_median_price
         FROM q WHERE rn = 1 ORDER BY l_returnflag""",

    "ts9_acf" ->
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(ROUND(SUM(CAST("value" AS DECIMAL(30,8))), 4) AS DOUBLE) AS dv
           FROM events GROUP BY 1, 2),
         stats AS (
           SELECT event_type, COUNT(*) AS n_days,
                  CAST(ROUND(SUM(CAST(dv AS DECIMAL(30,8))), 4) AS DOUBLE) / COUNT(*) AS m
           FROM daily GROUP BY 1),
         dev AS (
           SELECT d.event_type, d.day, d.dv - s.m AS dev
           FROM daily d JOIN stats s ON d.event_type = s.event_type),
         den AS (
           SELECT event_type,
                  CAST(ROUND(SUM(CAST(dev * dev AS DECIMAL(30,8))), 4) AS DOUBLE) AS den
           FROM dev GROUP BY 1),
         nums AS (
           SELECT a.event_type, k.lag,
                  CAST(COUNT(*) AS BIGINT) AS n_terms,
                  CAST(ROUND(SUM(CAST(a.dev * b.dev AS DECIMAL(30,8))), 4) AS DOUBLE) AS num
           FROM dev a
           CROSS JOIN (SELECT UNNEST([1, 2, 7]) AS lag) k
           JOIN dev b ON b.event_type = a.event_type
                     AND b.day = a.day + CAST(k.lag AS INTEGER)
           GROUP BY 1, 2)
         SELECT n.event_type, CAST(n.lag AS BIGINT) AS lag, n.n_terms,
                ROUND(n.num / d.den + 1e-9, 6) + 0.0 AS acf
         FROM nums n JOIN den d ON d.event_type = n.event_type
         ORDER BY n.event_type, lag""",

    "ts8_seasonal_decompose" ->
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(ROUND(SUM(CAST("value" AS DECIMAL(30,8))), 4) AS DOUBLE) AS dv
           FROM events GROUP BY 1, 2),
         t AS (
           SELECT event_type, day, dv,
                  COUNT(*) OVER w AS n_win,
                  CAST(ROUND(SUM(CAST(dv AS DECIMAL(30,8))) OVER w, 4) AS DOUBLE) / 7
                    AS trend
           FROM daily
           WINDOW w AS (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         det AS (
           SELECT event_type, (day - DATE '2000-01-03') % 7 AS dow,
                  dv - trend AS detrended
           FROM t WHERE n_win = 7)
         SELECT event_type, CAST(dow AS BIGINT) AS dow,
                CAST(COUNT(*) AS BIGINT) AS n_days,
                ROUND(CAST(ROUND(SUM(CAST(detrended AS DECIMAL(30,8))), 4) AS DOUBLE)
                      / COUNT(*) + 1e-9, 4) + 0.0 AS seasonal
         FROM det GROUP BY 1, 2 ORDER BY 1, 2""",

    "a18_ordered_set" ->
      """WITH counts AS (
           SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
           FROM lineitem GROUP BY 1, 2),
         mode_pick AS (
           SELECT l_returnflag, l_quantity AS mode_qty, cnt AS mode_n,
                  ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                     ORDER BY cnt DESC, l_quantity) AS rn
           FROM counts),
         ordered AS (
           SELECT l_returnflag,
                  quantile_disc(l_quantity, 0.25) AS q25_disc,
                  quantile_disc(l_quantity, 0.5)  AS median_disc,
                  ROUND(quantile_cont(l_quantity, 0.5), 4) AS median_cont
           FROM lineitem GROUP BY 1)
         SELECT o.l_returnflag, o.q25_disc, o.median_disc, o.median_cont,
                m.mode_qty, CAST(m.mode_n AS BIGINT) AS mode_n
         FROM ordered o JOIN mode_pick m ON o.l_returnflag = m.l_returnflag
         WHERE m.rn = 1
         ORDER BY o.l_returnflag""",

    "w10_value_windows" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_returnflag,
                FIRST_VALUE(l_quantity) OVER wfull AS first_qty,
                LAST_VALUE(l_quantity) OVER wfull AS last_qty,
                NTH_VALUE(l_quantity, 2) OVER wfull AS second_qty,
                LEAD(l_extendedprice, 2, -1.0) OVER ordered AS next2_price,
                LAG(l_extendedprice, 1, 0.0) OVER ordered AS prev_price
         FROM lineitem
         WHERE l_orderkey < 500
         WINDOW ordered AS (PARTITION BY l_returnflag
                            ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey, l_suppkey),
                wfull AS (PARTITION BY l_returnflag
                          ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey, l_suppkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""",

    "f10_regex_battery" ->
      """SELECT p_partkey,
                regexp_extract(p_brand, 'Brand#([0-9]+)', 1) AS brand_num,
                translate(p_name, 'aeiou', 'AEIOU') AS upper_vowels,
                reverse(string_split(p_name, ' ')[1]) AS rev_first_word,
                repeat(p_brand, 2) AS brand_twice,
                CAST(strpos(p_name, 'e') AS BIGINT) AS first_e_pos,
                left(p_name, 5) AS left5,
                right(p_type, 4) AS right4,
                array_to_string(regexp_extract_all(p_type, '[A-Z]+'), '|') AS caps_runs
         FROM part ORDER BY p_partkey""",

    "ts1_gap_fill" ->
      """WITH ev AS (
           SELECT user_id, CAST(ts AS DATE) AS day, "value"
           FROM events WHERE user_id < 20),
         daily AS (
           SELECT user_id, day, COUNT(*) AS n_events,
                  CAST(ROUND(SUM(CAST("value" AS DECIMAL(30,8))), 4) AS DOUBLE) AS day_value
           FROM ev GROUP BY 1, 2),
         bounds AS (
           SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM ev GROUP BY 1),
         spine AS (
           SELECT user_id, CAST(g.day AS DATE) AS day
           FROM bounds, UNNEST(generate_series(CAST(d0 AS TIMESTAMP),
                                               CAST(d1 AS TIMESTAMP),
                                               INTERVAL 1 DAY)) AS g(day))
         SELECT s.user_id, s.day,
                COALESCE(d.n_events, 0) AS n_events,
                d.day_value,
                LAST_VALUE(d.day_value IGNORE NULLS)
                  OVER (PARTITION BY s.user_id ORDER BY s.day
                        ROWS UNBOUNDED PRECEDING) AS filled_value
         FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
         ORDER BY s.user_id, s.day""",

    "ts3_rolling_anomaly" ->
      """WITH ev AS (
           SELECT user_id, CAST(ts AS DATE) AS day, "value"
           FROM events WHERE user_id < 20),
         daily AS (
           SELECT user_id, day,
                  CAST(ROUND(SUM(CAST("value" AS DECIMAL(30,8))), 4) AS DOUBLE) AS day_value,
                  date_diff('day', DATE '1970-01-01', day) AS dn
           FROM ev GROUP BY 1, 2),
         stats AS (
           SELECT user_id, day, day_value,
                  CAST(COUNT(*) OVER w AS BIGINT) AS roll_n,
                  CAST(ROUND(SUM(CAST(day_value AS DECIMAL(30,8))) OVER w, 4) AS DOUBLE) AS roll_sum,
                  CAST(ROUND(SUM(CAST(ROUND(1e-9 + day_value * day_value, 4) AS DECIMAL(30,8))) OVER w, 4) AS DOUBLE) AS roll_sumsq
           FROM daily
           WINDOW w AS (PARTITION BY user_id ORDER BY dn
                        RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING))
         SELECT user_id, day, day_value, roll_n,
                CASE WHEN roll_n > 0 THEN roll_sum / roll_n END AS roll_mean,
                CASE WHEN roll_n > 0 THEN
                  sqrt(GREATEST((roll_sumsq - roll_sum * roll_sum / roll_n) / roll_n,
                                0.0)) END AS roll_std,
                COALESCE(roll_n >= 4 AND
                 sqrt(GREATEST((roll_sumsq - roll_sum * roll_sum / roll_n) / roll_n,
                               0.0)) > 0.0 AND
                 abs(day_value - roll_sum / roll_n) >
                   sqrt(GREATEST((roll_sumsq - roll_sum * roll_sum / roll_n) / roll_n,
                                 0.0)) * 2.0, FALSE) AS is_anomaly
         FROM stats ORDER BY user_id, day""",

    "w13_winsorize" ->
      """WITH f AS (SELECT l_returnflag,
                           quantile_disc(l_extendedprice, 0.01) AS p01,
                           quantile_disc(l_extendedprice, 0.99) AS p99
                    FROM lineitem GROUP BY 1)
         SELECT l.l_returnflag, COUNT(*) AS n,
                CAST(SUM(CASE WHEN l.l_extendedprice < f.p01 THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_low,
                CAST(SUM(CASE WHEN l.l_extendedprice > f.p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_high,
                CAST(ROUND(SUM(CAST(LEAST(GREATEST(l.l_extendedprice, f.p01), f.p99) AS DECIMAL(30,8))), 4) AS DOUBLE) AS winsorized_sum,
                MAX(f.p01) AS p01, MAX(f.p99) AS p99
         FROM lineitem l JOIN f ON l.l_returnflag = f.l_returnflag
         GROUP BY 1 ORDER BY 1""",

    "w12_robust_mad" ->
      """WITH med AS (
           SELECT l_returnflag, quantile_disc(l_extendedprice, 0.5) AS med
           FROM lineitem GROUP BY 1),
         dev AS (
           SELECT l.l_returnflag, abs(l.l_extendedprice - m.med) AS adev, m.med
           FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag),
         mad AS (
           SELECT l_returnflag, quantile_disc(adev, 0.5) AS mad
           FROM dev GROUP BY 1)
         SELECT d.l_returnflag,
                MAX(d.med) AS med,
                MAX(m.mad) AS mad,
                CAST(SUM(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         FROM dev d JOIN mad m ON d.l_returnflag = m.l_returnflag
         GROUP BY 1 ORDER BY 1""",

    "ts2_linear_interp" ->
      """WITH ev AS (
           SELECT user_id, CAST(ts AS DATE) AS day, "value"
           FROM events WHERE user_id < 20),
         daily AS (
           SELECT user_id, day,
                  CAST(ROUND(SUM(CAST("value" AS DECIMAL(30,8))), 4) AS DOUBLE) AS day_value
           FROM ev GROUP BY 1, 2),
         bounds AS (
           SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM ev GROUP BY 1),
         spine AS (
           SELECT user_id, CAST(g.day AS DATE) AS day
           FROM bounds, UNNEST(generate_series(CAST(d0 AS TIMESTAMP),
                                               CAST(d1 AS TIMESTAMP),
                                               INTERVAL 1 DAY)) AS g(day)),
         f AS (
           SELECT s.user_id, s.day, d.day_value,
                  LAST_VALUE(d.day_value IGNORE NULLS)
                    OVER (PARTITION BY s.user_id ORDER BY s.day
                          ROWS UNBOUNDED PRECEDING) AS prev_v,
                  LAST_VALUE(CASE WHEN d.day_value IS NOT NULL THEN s.day END IGNORE NULLS)
                    OVER (PARTITION BY s.user_id ORDER BY s.day
                          ROWS UNBOUNDED PRECEDING) AS prev_d,
                  FIRST_VALUE(d.day_value IGNORE NULLS)
                    OVER (PARTITION BY s.user_id ORDER BY s.day
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
                  FIRST_VALUE(CASE WHEN d.day_value IS NOT NULL THEN s.day END IGNORE NULLS)
                    OVER (PARTITION BY s.user_id ORDER BY s.day
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
           FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day)
         SELECT user_id, day, day_value,
                ROUND(CASE WHEN day_value IS NOT NULL THEN day_value
                           WHEN prev_v IS NULL THEN next_v
                           WHEN next_v IS NULL THEN prev_v
                           ELSE prev_v + (next_v - prev_v) *
                                (CAST(date_diff('day', prev_d, day) AS DOUBLE) /
                                 CAST(date_diff('day', prev_d, next_d) AS DOUBLE)) END,
                      4) AS interp_value
         FROM f ORDER BY user_id, day""",

    // The partitioned round trip is value-identity on the filtered day.
    "s5_partition_pruning" ->
      """SELECT event_type, COUNT(*) AS n,
                CAST(ROUND(SUM(CAST("value" AS DECIMAL(30,8))), 4) AS DOUBLE) AS total_value
         FROM events
         WHERE CAST(ts AS DATE) = DATE '2024-01-15'
         GROUP BY 1 ORDER BY 1""",

    // replay: the dim filter resolves to "Mondays" (Spark dayofweek 2 =
    // DuckDB dayofweek 1).
    "s13_dynamic_pruning" ->
      """SELECT event_type, COUNT(*) AS n,
                CAST(ROUND(SUM(CAST("value" AS DECIMAL(30,8))), 4) AS DOUBLE) AS total_value
         FROM events
         WHERE dayofweek(CAST(ts AS DATE)) = 1
         GROUP BY 1 ORDER BY 1""",

    // replay: gen 1 = l_linenumber 1 (no discount column -> NULL), gen 2 =
    // the rest (discount present).
    "s12_schema_evolution" ->
      """SELECT CAST(CASE WHEN l_linenumber = 1 THEN 1 ELSE 2 END AS INT) AS gen,
                COUNT(*) AS n,
                CAST(COUNT(CASE WHEN l_linenumber <> 1 THEN l_discount END) AS BIGINT) AS n_discount,
                CAST(ROUND(SUM(CASE WHEN l_linenumber <> 1 THEN CAST(l_discount AS DECIMAL(30,8)) END), 4) AS DOUBLE) AS sum_discount,
                CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,8))), 4) AS DOUBLE) AS sum_price
         FROM lineitem GROUP BY 1 ORDER BY 1""")
}
