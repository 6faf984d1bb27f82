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
  * Why an Expression: [[graft.plans.PercentileAggregate]] groups each
  * value by its sortable bits, a long that identifies the value exactly
  * (−0.0 and 0.0 stay apart, as the builtin's boxed-Double keys keep them;
  * NaN is one value, above +Inf) and orders like it, so the sort that
  * follows is a plain long sort and [[toDouble]] gets the value back.
  * Codegen is a single static call, fully inside whole-stage codegen.
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
  def sortable(d: Double): Long = flip(java.lang.Double.doubleToLongBits(d))

  /** The double whose sortable bits are `s`: the flip is its own inverse. */
  def toDouble(s: Long): Double = java.lang.Double.longBitsToDouble(flip(s))

  private def flip(bits: Long): Long = bits ^ ((bits >> 63) & 0x7fffffffffffffffL)
}
