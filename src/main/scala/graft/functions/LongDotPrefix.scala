package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native Catalyst expression: exact int64 dot product over the first
  * `prefix` elements of two long arrays.
  *
  * Why an Expression (same rationale as [[CosineSimilarity]]): the
  * composable `aggregate(zip_with(slice(a,1,p), slice(b,1,p), ...))` form
  * runs Catalyst higher-order lambdas INTERPRETED — one closure dispatch
  * per element plus two array allocations per row for the slices — and it
  * sits in the innermost loop of the all-pairs retrieval audits
  * (pairs × dimensions × 4 prefixes; benched ~5.5 s at sf0.1 vs ~1.5 s
  * with this primitive loop). Codegen emits one tight loop, no
  * allocation, no dispatch.
  *
  * Semantics match the composed form exactly: index-ordered int64
  * accumulation over the common prefix min(|a|, |b|, p); NULL if either
  * array is NULL. Overflow behavior is plain Java long arithmetic — the
  * caller guarantees scaled inputs keep Σ|aᵢbᵢ| under 2^63 (emb1's 1e6
  * scaling: 64 · (2^20)² ≈ 7e13).
  */
case class LongDotPrefix(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult = {
    def arr(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (arr(first.dataType) && arr(second.dataType) && third.dataType == IntegerType &&
        third.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"long_dot_prefix expects (array<bigint>, array<bigint>, literal int), got " +
        s"${first.dataType.simpleString} / ${second.dataType.simpleString} / " +
        s"${third.dataType.simpleString}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any, p: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(math.min(a.numElements(), b.numElements()), p.asInstanceOf[Int])
    var dot = 0L
    var i = 0
    while (i < n) {
      dot += a.getLong(i) * b.getLong(i)
      i += 1
    }
    java.lang.Long.valueOf(dot)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, p) => {
      s"""
         |int n = java.lang.Math.min(java.lang.Math.min($a.numElements(), $b.numElements()), $p);
         |long dot = 0L;
         |for (int i = 0; i < n; i++) {
         |  dot += $a.getLong(i) * $b.getLong(i);
         |}
         |${ev.value} = dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): LongDotPrefix =
    copy(first = newFirst, second = newSecond, third = newThird)
}
