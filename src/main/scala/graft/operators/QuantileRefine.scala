package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSqlAccess}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.plans.RewritePercentileAgg

/** Exact value-at-rank over weighted rows, computed with MERGEABLE
  * aggregations only (reference semantics: percentile_disc / median /
  * weighted median, cf. the reference's aggregations.sql percentile
  * rollups). It is a builder over [[graft.plans.PercentileAggregate]], the
  * engine the percentile rewrite plans onto, whose scaladoc has the two
  * passes: a bit-prefix histogram ([[graft.functions.SortableDoubleBits]],
  * a fixed 2^16 key space) that locates each rank in one bucket, then an
  * exact selection over the rows of the buckets holding more than one
  * value. No task sorts a whole group and nothing is cached.
  *
  * NULL semantics: NULL values and non-positive weights are dropped up
  * front, matching the ordered-set builtins (percentile_disc /
  * percentile_cont ignore NULLs).
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

  /** The output column names a group column would collide with. */
  private[graft] val Reserved: Set[String] = Set("rid", "v", "n")

  /** Values at weighted ranks, percentile_disc-style: for each group and
    * each `(rid, rankExpr)` spec, the smallest v whose cumulative weight
    * (over v ascending) reaches the 1-based rank `rankExpr(n)`.
    *
    * @param values     (groupCols..., v: double, c: long) weighted rows;
    *                   NULL v / non-positive c rows are ignored.
    * @param rankSpecs  rid → SQL rank expression over the per-group column
    *                   `n` = Σc, e.g. `"med" -> "(n + 1) DIV 2"` for
    *                   percentile_disc(0.5); a rank outside [1, n] gives no
    *                   row.
    * @return           (groupCols..., rid, v, n) — n is the group's total
    *                   weight, carried so callers don't re-aggregate for it.
    */
  def atRankExprs(
      values: DataFrame,
      groupCols: Seq[String],
      rankSpecs: Seq[(String, String)]): DataFrame = {
    require(values.schema("v").dataType == DoubleType,
      s"QuantileRefine buckets by double bit-prefix; got " +
        values.schema("v").dataType.simpleString)
    val clash = groupCols.toSet.intersect(Reserved)
    require(clash.isEmpty,
      s"QuantileRefine group columns collide with its output names: " +
        s"${clash.mkString(", ")} (reserved: ${Reserved.mkString(", ")})")
    val spark = values.sparkSession
    graft.GraftExtensions.register(spark)
    val rows = GraftSqlAccess.analyzedPlan(values.filter(col("v").isNotNull && col("c") > 0)
      .select(groupCols.map(col) :+ col("v") :+ col("c").cast(LongType): _*))
    val (keys, v, c) = (rows.output.take(groupCols.size), rows.output(groupCols.size),
      rows.output.last)

    // the rank expressions, resolved over n and bound to input ordinal 0
    val n = AttributeReference("n", LongType, nullable = false)()
    val ranks = GraftSqlAccess.analyzedPlan(GraftSqlAccess.ofRows(spark, LocalRelation(n))
      .selectExpr(rankSpecs.map { case (_, rx) => s"CAST(($rx) AS BIGINT)" }: _*))
      .expressions.map(e => 0 -> BindReferences.bindReference(
        e.asInstanceOf[Alias].child.transformUp { case r: RuntimeReplaceable => r.replacement },
        Seq(n)))

    val (top, out) = RewritePercentileAgg.build(rows, keys, Seq(v), c, ranks, Nil,
      rows.stats.sizeInBytes)
    val named = groupCols.zip(out).map { case (g, a) => Alias(a, g)() } ++
      ranks.indices.map(j => Alias(out(keys.size + j), s"__r$j")()) :+ Alias(out.last, "n")()
    // back to long form: one row per (group, rid) with a value
    GraftSqlAccess.ofRows(spark, Project(named, top))
      .selectExpr(groupCols.map(g => s"`$g`") ++ Seq(s"stack(${ranks.size}, " +
        rankSpecs.indices.map(j => s"'${rankSpecs(j)._1}', __r$j").mkString(", ") +
        ") AS (rid, v)", "n"): _*)
      .filter(col("v").isNotNull)
  }
}
