package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Order-preserving map double → int64 (the classic sortable-bits
  * transform, e.g. Lucene NumericUtils.sortableDoubleBits — public):
  * positive doubles keep their IEEE bit pattern (already ascending as
  * signed longs), negative doubles flip their 63 magnitude bits so larger
  * negatives order below smaller ones. Total order of the longs == total
  * order of the doubles (-0.0 lands immediately below +0.0).
  *
  * Why an Expression: [[graft.plans.PercentileAggregate]] buckets values by
  * BIT PREFIX (`shiftright(sortable_double_bits(v), s)`), which is monotone
  * by construction and has a FIXED key space of 2^(64−s) buckets — so the
  * histogram pass needs no min/max pre-pass over the data to establish a
  * bucketing domain, halving the corpus passes per quantile batch. Codegen
  * is a single static call, fully inside whole-stage codegen.
  */
case class SortableDoubleBits(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sortable_double_bits expects DOUBLE, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType

  override def prettyName: String = "sortable_double_bits"

  override protected def nullSafeEval(input: Any): Any =
    SortableDoubleBits.sortable(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SortableDoubleBits.sortable($c)")

  override protected def withNewChildInternal(newChild: Expression): SortableDoubleBits =
    copy(child = newChild)
}

object SortableDoubleBits {
  /** bits ^ ((bits >> 63) & 0x7fff...): identity for positives, flips the
    * magnitude bits for negatives. Monotone: d1 < d2 ⟺ sortable(d1) <
    * sortable(d2) for all non-NaN doubles. */
  def sortable(d: Double): Long = {
    val bits = java.lang.Double.doubleToLongBits(d)
    bits ^ ((bits >> 63) & 0x7fffffffffffffffL)
  }
}
