package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSqlAccess}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.plans.RewritePercentileAgg

/** Exact interpolated percentiles (PERCENTILE_CONT / Spark's built-in
  * `percentile`) computed by [[graft.plans.PercentileAggregate]]'s
  * mergeable two-pass histogram refinement — the scale-safe replacement for
  * the builtin on the TLC fact paths. Library code asks for it by writing
  * Spark's `percentile`, which [[graft.plans.RewritePercentileAgg]] plans
  * with the [[ranks]] and [[interpolate]] below; [[group]] serves the
  * callers that build their own frames (SessionScaleOps a13, ScalarOps q2).
  *
  * Why replace the builtin: Spark's `Percentile` is a
  * TypedImperativeAggregate whose final merge materializes a value → count
  * map of each group's DISTINCT values in ONE task. On the reference's
  * headline queries the group keys are low-cardinality (3 service types,
  * 2 companies, ~265 zones × 24 hours) while fares are near-unique doubles,
  * so that buffer grows LINEARLY with the corpus — at 370M rows the q05
  * `service_type` group map is ~a third of the fact in one task. Every pass
  * here is a partial-merge hash-agg or bounded per-group state instead
  * (PercentileAggregate's scaladoc), so no task's footprint grows with the
  * corpus.
  *
  * Why the values are UNCHANGED (the gates stay hash-green without touching
  * their oracles): this reconstruction reproduces the builtin's result
  * bit-for-bit, not just approximately —
  *
  *   - same element selection: value at 0-indexed `floor(position)` and
  *     `ceil(position)` for `position = (n−1)·p` over the non-null values
  *     in ascending order (ties contiguous), i.e. the 1-based ranks
  *     (rl, rh) = (pos DIV den + 1, +1 if rem > 0);
  *   - same interpolation EXPRESSION TREE: `(1−f)·lo + f·hi` with
  *     f = rem/den. For the dyadic fractions the reference uses
  *     (p ∈ {¼, ½, ¾} → den ∈ {2, 4}) both `position` and `f` are exactly
  *     representable doubles, so multiply-multiply-add rounds identically
  *     to the builtin's `(higher−position)·lo + (position−lower)·hi`;
  *   - same short-circuits: `rem == 0` and `lo == hi` (tied neighbours)
  *     return `lo` directly — the builtin returns the lower key in both
  *     cases without arithmetic, and `(1−f)·v + f·v` is NOT guaranteed to
  *     round back to `v`, so the explicit branch matters for bit-parity;
  *   - same NULL semantics: n counts only non-null values, and a group with
  *     none has no value at either rank, so its percentile is NULL, like the
  *     builtin's NULL-on-empty.
  *
  * PercentileContSpec pins the bit-identity (`==` on raw doubles) against
  * the builtin across group sizes 1..1000, null-heavy conditional columns,
  * integer inputs, tied neighbours, and 90%-tied zero-inflated data.
  *
  * Cost model: one aggregate reads its input twice (pass 1 with the
  * aggregate's other functions riding it, and pass 2) for ANY number of
  * percentile columns and fractions, vs once with corpus-sized task state
  * for the builtin. Pass 1 feeds each row once per value column, but its
  * codegen hash aggregate combines them per (group, pcol, bucket) before
  * its exchange, so the shuffle carries bucket rows, never corpus rows
  * (pinned by PlanAuditSpec).
  */
object PercentileCont {

  /** `out` column = percentile_cont(num/den) WITHIN GROUP (ORDER BY value).
    * `den` MUST be a power of two, at most 1024 (the rewrite's dyadic
    * bound), for the bit-parity guarantee (2 and 4 cover the reference's
    * entire percentile surface). */
  final case class Spec(out: String, value: String, num: Int, den: Int) {
    require(num >= 0 && num <= den, s"p=$num/$den outside [0,1]")
    require((den & (den - 1)) == 0 && den > 0 && den <= 1024,
      s"den=$den must be a power of two up to 1024: rem/den is then an exact " +
        "dyadic double and the interpolation is bit-identical to the builtin")
  }

  /** The 1-based floor and ceil ranks of percentile num/den: bigint
    * expressions over n, the non-null count (input ordinal 0). */
  private[graft] def ranks(num: Int, den: Int): Seq[Expression] = {
    val pos = Multiply(Subtract(BoundReference(0, LongType, nullable = false), Literal(1L)),
      Literal(num.toLong))
    val lo = Add(IntegralDivide(pos, Literal(den.toLong)), Literal(1L))
    Seq(lo, Add(lo, If(GreaterThan(Remainder(pos, Literal(den.toLong)), Literal(0L)),
      Literal(1L), Literal(0L))))
  }

  /** The builtin's interpolation between the values `lo` and `hi` at
    * [[ranks]], `n` the non-null count: NULL when they are. */
  private[graft] def interpolate(lo: Expression, hi: Expression, n: Expression,
      num: Int, den: Int): Expression = {
    val rem = Remainder(Multiply(Subtract(n, Literal(1L)), Literal(num.toLong)),
      Literal(den.toLong))
    val f = Divide(Cast(rem, DoubleType), Literal(den.toDouble)) // exact dyadic
    If(Or(EqualTo(rem, Literal(0L)), EqualTo(lo, hi)), lo,
      Add(Multiply(Subtract(Literal(1.0), f), lo), Multiply(f, hi)))
  }

  /** All `specs` per `groupCols` group, one row per group that has at least
    * one non-null value in any spec column: (groupCols..., specs.out...).
    * It is `percentile` per spec in one aggregate, planned by the rewrite
    * whatever `spark.graft.sqlPercentileRewrite` says.
    * Callers LEFT-join this onto their main aggregate on `groupCols`.
    *
    * NULL GROUP KEYS: a NULL group key groups normally HERE (GROUP BY
    * treats NULL as a group), but an equality left join drops it — a
    * NULL-keyed group would come back with NULL percentiles while the
    * builtin computes real values. The two callers, SessionScaleOps a13 and
    * ScalarOps q2, group by keys that are never NULL (`o_orderpriority`, a
    * literal). A new caller with a nullable key must join null-safely too. */
  def group(df: DataFrame, groupCols: Seq[String], specs: Seq[Spec]): DataFrame = {
    val spark = df.sparkSession
    graft.GraftExtensions.register(spark)
    val pcts = specs.map(s => percentile(col(s.value), lit(s.num.toDouble / s.den)).as(s.out))
    val agg = GraftSqlAccess.analyzedPlan(df.groupBy(groupCols.map(col): _*)
      .agg(pcts.head, pcts.tail: _*)).asInstanceOf[Aggregate]
    require(RewritePercentileAgg.shouldRewrite(agg), s"not rewritable: $agg")
    GraftSqlAccess.ofRows(spark, RewritePercentileAgg.rewrite(agg))
      .filter(specs.map(s => col(s.out).isNotNull).reduce(_ || _))
  }
}
