package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Exact value-at-rank over weighted rows, computed with MERGEABLE
  * aggregations only — the histogram-bucket two-phase refinement that
  * w12/a18/a26's scaladocs promised (r11 verdict item 2; reference
  * semantics: percentile_disc / median / weighted median, cf. the
  * reference's aggregations.sql percentile rollups).
  *
  * Why: the naive exact form of an ordered-set aggregate sorts each group
  * inside one cumulative window — a single task sorts the whole group,
  * which was the last documented scale bound in the repo (fine for 3 flags;
  * a hazard when one group outgrows a task). And the r11 interim form
  * (persist a per-group distinct-value count table, window over it) paid a
  * corpus-sized cache materialization per run — at sf1 the distinct-price
  * table is ~fact-sized, so the "fix" moved the cost, not removed it. This
  * helper needs NEITHER the group sort nor any corpus-sized
  * materialization or shuffle. A batch of k quantiles over one column
  * costs exactly TWO passes over the rows:
  *
  *   - PASS 1 buckets every value by the high 16 bits of its
  *     [[SortableDoubleBits]] image — monotone by construction, and with a
  *     FIXED key space (2^16: sign + exponent + 4 mantissa bits), so no
  *     min/max pre-pass is needed and the bucket table is bounded at
  *     groups × 65536 rows REGARDLESS of the data.
  *     One mergeable hash-agg (per-partition partials merge at the
  *     exchange, exactly like any SUM; no sort buffer anywhere).
  *   - On the bucket table: per-group totals n, the rank fan-out (one row
  *     per rank spec via stack()), the cumulative weights, and the bucket
  *     containing each rank; the rank is re-based into its bucket
  *     (r' = r − weight below) and [bucket-min, bucket-max] becomes the
  *     residual interval — at most 1/16th of one binade of the group.
  *     With few groups (default) the bucket table collapses to one
  *     partition so these windows need no exchange; with `manyGroups` the
  *     windows exchange on the group key instead, because a single task
  *     holding groups × buckets rows is itself a bound when the group
  *     count grows with the data (zone × hour × date aggregates).
  *   - Ranks whose located bucket is a POINT (`lo == hi` — heavy ties:
  *     zero tips, zero tolls, any mass point) are already answered: the
  *     value IS `lo`, and they short-circuit past pass 2 (r13 verdict
  *     item 3). Without this, the residual filter admits the whole tie
  *     mass and the final per-(group, rid) window sorts it in one task —
  *     silently reinstating the bound this class exists to retire, on the
  *     most common real-data distribution.
  *   - PASS 2 filters the remaining ranks to their residual intervals (a
  *     state join — broadcast-hinted only in the few-groups mode; the
  *     many-groups state grows with GROUPS, and forcing a broadcast of a
  *     frame that grows with anything is the hint class the r12 sweep
  *     removed — AQE still broadcasts it while it is actually small),
  *     exchanges on (group, rid), and sorts only the residual rows for
  *     the exact cumulative selection.
  *
  * [[graft.plans.RewritePercentileAgg]] runs the same two passes through
  * [[graft.plans.PercentileAggregate]], which locates the ranks per group
  * in one task instead of in bucket-table windows and caches nothing.
  *
  * NULL semantics (ADVICE r12): NULL values and non-positive weights are
  * dropped up front, matching the ordered-set builtins (percentile_disc /
  * percentile_cont ignore NULLs) — an unfiltered NULL would land in a NULL
  * bucket that sorts first in the cumulative window and silently shift
  * every rank selection.
  *
  * Exactness: bucket assignment is monotone non-decreasing in v, so
  * cumulative bucket weights respect value order and the rank-r element
  * lies in the located bucket by construction; the final pass then selects
  * the exact element (equal values accumulate contiguously under any
  * value-ordered total order, so the selection is independent of row order
  * within ties). Input rows need NOT be distinct by value — raw fact rows
  * with weight 1 work directly.
  */
object QuantileRefine {

  /** Working-column names used by the refinement state (ADVICE r13 guard). */
  private[graft] val Reserved: Set[String] =
    Set("v", "c", "n", "rid", "b", "bc", "blo", "bhi", "cum", "lo", "hi", "r")

  /** Pass-1 bucket = sortable bits >> BitShift: a 2^16 key space. */
  private val BitShift = 48

  /** Values at weighted ranks, percentile_disc-style: for each group and
    * each `(rid, rankExpr)` spec, the smallest v whose cumulative weight
    * (over v ascending) reaches the 1-based rank `rankExpr(n)`.
    *
    * @param values     (groupCols..., v: double, c: long) weighted rows;
    *                   NULL v / non-positive c rows are ignored.
    * @param rankSpecs  rid → SQL rank expression over the per-group column
    *                   `n` = Σc, e.g. `"med" -> "(n + 1) DIV 2"` for
    *                   percentile_disc(0.5).
    * @param manyGroups scale mode for group counts that GROW with the data
    *                   (zone × hour × date): bucket-table windows exchange
    *                   on the group key instead of collapsing to one
    *                   partition, and the pass-2 state join carries no
    *                   broadcast hint (AQE decides). The default keeps the
    *                   single-partition state plan the few-group callers
    *                   (w12/a18/a26/a27/w16) were measured on.
    * @return           (groupCols..., rid, v, n) — n is the group's total
    *                   weight, carried so callers don't re-aggregate for it.
    */
  def atRankExprs(
      values: DataFrame,
      groupCols: Seq[String],
      rankSpecs: Seq[(String, String)],
      manyGroups: Boolean = false): DataFrame = {
    require(values.schema("v").dataType == DoubleType,
      s"QuantileRefine buckets by double bit-prefix; got " +
        values.schema("v").dataType.simpleString)
    // ADVICE r13: the internal working columns are reserved — a group column
    // named like one would silently alias into the state expressions and
    // produce wrong results rather than an error.
    val clash = groupCols.toSet.intersect(QuantileRefine.Reserved)
    require(clash.isEmpty,
      s"QuantileRefine group columns collide with reserved internal names: " +
        s"${clash.mkString(", ")} (reserved: ${QuantileRefine.Reserved.mkString(", ")})")
    graft.GraftExtensions.register(values.sparkSession)
    val g = groupCols.map(col)
    val perRid = (groupCols :+ "rid").map(col)
    val rows = values.filter(col("v").isNotNull && col("c") > 0)

    // PASS 1: bit-prefix histogram — fixed key space, no range pre-pass
    val hist = rows
      .withColumn("b", expr(s"shiftright(sortable_double_bits(v), $BitShift)"))
      .groupBy(g :+ col("b"): _*)
      .agg(sum(col("c")).as("bc"), min(col("v")).as("blo"), max(col("v")).as("bhi"))

    // bucket table work (group-proportional, never corpus-sized): totals,
    // rank fan-out, cumulative weights, bucket location
    val wTot = Window.partitionBy(g: _*)
    val wCum = Window.partitionBy(g: _*).orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val stackExpr = s"stack(${rankSpecs.size}, " +
      rankSpecs.map { case (rid, rx) => s"'$rid', CAST(($rx) AS BIGINT)" }
        .mkString(", ") + ") AS (rid, r)"
    // scope-persisted (r14): `state` is groups × rid rows (tiny), but its
    // lineage contains the corpus-wide pass-1 histogram — and it has TWO
    // consumers (the pass-2 residual join via `live`, and the `settled`
    // short-circuit branch of the final union). In few-groups mode the
    // coalesce(1) leaves no Exchange for AQE to reuse, so without the
    // persist every consumer re-ran pass 1 over the corpus (a2/w16/q2
    // measured one extra full pass each at sf0.1).
    // r15 re-measured the EAGER alternative (localCheckpoint here, the fix
    // that took tlc_pipeline_q14 3.97 → 0.67 s for its own plain-aggregate
    // frames): a13_exact 0.96 → 2.86 s, q2 0.87 → 1.41, tlc_agg_pricing
    // 2.84 → 3.55 at 32c — WORSE for the state frame, because pass 1's
    // lineage shares stages with the main query through AQE's
    // TableCacheQueryStage and an eager checkpoint re-executes it as a
    // separate job (the same failure as CacheScope's persist+count()
    // experiment). Lazy persist stays; the q14-style checkpoint is right
    // only for frames whose lineage the main query does NOT otherwise need.
    val state = graft.CacheScope.persistScoped(
      (if (manyGroups) hist else hist.coalesce(1))
      .withColumn("n", sum(col("bc")).over(wTot))
      .withColumn("cum", sum(col("bc")).over(wCum))
      .selectExpr(groupCols ++ Seq("bc", "blo", "bhi", "n", "cum", stackExpr): _*)
      .filter(col("cum") >= col("r") && col("cum") - col("bc") < col("r"))
      .select(g :+ col("rid") :+ (col("r") - (col("cum") - col("bc"))).as("r") :+
        col("blo").as("lo") :+ col("bhi").as("hi") :+ col("n"): _*))

    // point-interval short-circuit: a settled rank's answer is `lo`
    val live = state.filter(col("lo") < col("hi"))
    val settled = state.filter(col("lo") >= col("hi"))

    // PASS 2: exact selection over the LIVE residual intervals only; the
    // residual join hints the broadcast only in few-groups mode
    val wFin = Window.partitionBy(perRid: _*).orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val selected = rows.join(if (manyGroups) live else broadcast(live), groupCols)
      .filter(col("v") >= col("lo") && col("v") <= col("hi"))
      .withColumn("cum", sum(col("c")).over(wFin))
      .filter(col("cum") >= col("r"))
      .groupBy(perRid: _*)
      .agg(min(col("v")).as("v"), max(col("n")).as("n"))
    selected.unionByName(
      settled.select(perRid :+ col("lo").as("v") :+ col("n"): _*))
  }
}
