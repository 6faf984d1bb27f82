package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact interpolated percentiles (PERCENTILE_CONT / Spark's built-in
  * `percentile`) computed through [[QuantileRefine]]'s mergeable two-pass
  * histogram refinement — the scale-safe replacement for the builtin on the
  * TLC fact paths (r13 verdict item 1). Library code asks for it by
  * writing Spark's `percentile`; [[graft.plans.RewritePercentileAgg]] plans
  * that onto the same two passes and this interpolation in
  * [[graft.plans.PercentileAggregate]]. [[group]] serves the callers that
  * build their own frames (SessionScaleOps a13, ScalarOps q2).
  *
  * Why replace the builtin: Spark's `Percentile` is a
  * TypedImperativeAggregate whose final merge materializes a value → count
  * map of each group's DISTINCT values in ONE task. On the reference's
  * headline queries the group keys are low-cardinality (3 service types,
  * 2 companies, ~265 zones × 24 hours) while fares are near-unique doubles,
  * so that buffer grows LINEARLY with the corpus — at 370M rows the q05
  * `service_type` group map is ~a third of the fact in one task. Every pass
  * here is a partial-merge hash-agg or a bounded-state window instead
  * (QuantileRefine's scaladoc), so no task's footprint grows with the
  * corpus.
  *
  * Why the values are UNCHANGED (the gates stay hash-green without touching
  * their oracles): this reconstruction reproduces the builtin's result
  * bit-for-bit, not just approximately —
  *
  *   - same element selection: value at 0-indexed `floor(position)` and
  *     `ceil(position)` for `position = (n−1)·p` over the non-null values
  *     in ascending order (ties contiguous), via one QuantileRefine rank
  *     batch of (rl, rh) = (pos DIV den + 1, +1 if rem > 0) pairs;
  *   - same interpolation EXPRESSION TREE: `(1−f)·lo + f·hi` with
  *     f = rem/den. For the dyadic fractions the reference uses
  *     (p ∈ {¼, ½, ¾} → den ∈ {2, 4}) both `position` and `f` are exactly
  *     representable doubles, so multiply-multiply-add rounds identically
  *     to the builtin's `(higher−position)·lo + (position−lower)·hi`;
  *   - same short-circuits: `rem == 0` and `lo == hi` (tied neighbours)
  *     return `lo` directly — the builtin returns the lower key in both
  *     cases without arithmetic, and `(1−f)·v + f·v` is NOT guaranteed to
  *     round back to `v`, so the explicit branch matters for bit-parity;
  *   - same NULL semantics: per-column n counts only non-null values
  *     (handled inside QuantileRefine); a group with no non-null values is
  *     absent here and comes back NULL through the caller's left join,
  *     exactly like the builtin's NULL-on-empty.
  *
  * PercentileContSpec pins the bit-identity (`==` on raw doubles) against
  * the builtin across group sizes 1..1000, null-heavy conditional columns,
  * integer inputs, tied neighbours, and 90%-tied zero-inflated data.
  *
  * Cost model: ONE stacked unpivot of the requested value columns feeds a
  * single QuantileRefine batch — 2 corpus passes total for ANY number of
  * percentile columns and fractions (vs 1 pass with corpus-sized task state
  * for the builtin), plus group-proportional state work. The unpivot feeds
  * each row to pass 1 once per value column, but pass 1's codegen hash
  * aggregate combines them per (group, pcol, bucket) before its exchange,
  * so the shuffle carries bucket rows, never corpus rows (pinned by
  * PlanAuditSpec). [[group]] reads its input three times (pass 1, pass 2
  * and the caller's main aggregate), and its callers pay one extra join
  * (group-keyed, AQE-broadcastable state) to attach the results to their
  * main aggregate; a rewritten aggregate reads its child twice and joins
  * nothing (PercentileAggregate's scaladoc).
  */
object PercentileCont {

  /** `out` column = percentile_cont(num/den) WITHIN GROUP (ORDER BY value).
    * `den` MUST be a power of two for the bit-parity guarantee (2 and 4
    * cover the reference's entire percentile surface). */
  final case class Spec(out: String, value: String, num: Int, den: Int) {
    require(num >= 0 && num <= den, s"p=$num/$den outside [0,1]")
    require((den & (den - 1)) == 0 && den > 0,
      s"den=$den must be a power of two: rem/den is then an exact dyadic " +
        "double and the interpolation is bit-identical to the builtin")
    private[PercentileCont] def pairKey = s"${num}_$den"
  }

  /** All `specs` per `groupCols` group, one row per group that has at least
    * one non-null value in any spec column: (groupCols..., specs.out...).
    * Callers LEFT-join this onto their main aggregate on `groupCols`.
    *
    * NULL GROUP KEYS (ADVICE r13): a NULL group key groups normally HERE
    * (GROUP BY treats NULL as a group, both engines), but an equality left
    * join drops it — a NULL-keyed group would come back with NULL
    * percentiles while the builtin computes real values. The two callers,
    * SessionScaleOps a13 and ScalarOps q2, group by keys that are never
    * NULL (`o_orderpriority`, a literal). A new caller with a nullable key
    * must join null-safely too.
    *
    * @param manyGroups passed through to QuantileRefine — set when the
    *                   group count grows with the data (zone×hour×date). */
  def group(df: DataFrame, groupCols: Seq[String], specs: Seq[Spec],
            manyGroups: Boolean = false): DataFrame = {
    require(groupCols.nonEmpty,
      "global percentiles: group by a lit(1) dummy and drop it after")
    // 1. unpivot the distinct value columns: (groupCols..., pcol, v, c) —
    //    one corpus pass feeds every column's histogram at once
    val valueCols = specs.map(_.value).distinct
    val stackSql = s"stack(${valueCols.size}, " + valueCols.map(c =>
      s"'$c', CAST(`$c` AS DOUBLE)").mkString(", ") + ") AS (pcol, v)"
    val stacked = df
      .selectExpr(groupCols.map(c => s"`$c`") :+ stackSql: _*)
      .withColumn("c", lit(1L))
    // 2. one rank batch over the distinct (num, den) pairs: rl picks the
    //    floor element, rh the ceil element (same rank when rem = 0)
    val pairs = specs.map(s => (s.num, s.den)).distinct
    val rankSpecs = pairs.flatMap { case (num, den) =>
      Seq(
        s"l_${num}_$den" -> s"((n - 1) * $num) DIV $den + 1",
        s"h_${num}_$den" -> (s"((n - 1) * $num) DIV $den + 1 + " +
          s"(CASE WHEN ((n - 1) * $num) % $den > 0 THEN 1 ELSE 0 END)"))
    }
    val at = QuantileRefine.atRankExprs(stacked, groupCols :+ "pcol",
      rankSpecs, manyGroups = manyGroups)
    // 3. pivot wide per group and rebuild the builtin's interpolation
    def pick(s: Spec, rid: String, c: Column): Column =
      max(when(col("pcol") === s.value && col("rid") === rid, c))
    val aggs = specs.zipWithIndex.flatMap { case (s, i) =>
      Seq(
        pick(s, s"l_${s.pairKey}", col("v")).as(s"__lo$i"),
        pick(s, s"h_${s.pairKey}", col("v")).as(s"__hi$i"),
        pick(s, s"l_${s.pairKey}", col("n")).as(s"__n$i"))
    }
    val wide = at.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val outCols = groupCols.map(col) ++ specs.zipWithIndex.map { case (s, i) =>
      val lo = col(s"__lo$i")
      val hi = col(s"__hi$i")
      val rem = (col(s"__n$i") - 1) * s.num % s.den
      val f = rem.cast("double") / s.den.toDouble // exact dyadic
      when(rem === 0 || lo === hi, lo)
        .otherwise((lit(1.0) - f) * lo + f * hi)
        .as(s.out)
    }
    wide.select(outCols: _*)
  }
}
