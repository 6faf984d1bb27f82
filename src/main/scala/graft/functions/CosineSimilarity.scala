package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: cosine similarity of two double vectors.
  *
  * Why a custom Expression (SURVEY.md §7.3 preference order: compose
  * built-ins first, Expression second): the composable form —
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (acc,x) -> acc+x)` — is
  * semantically fine but executes Catalyst higher-order lambdas
  * interpreted, one closure dispatch per element, and sits in the innermost
  * loop of similarity search (candidates × dimensions). This expression
  * generates a tight primitive loop inside whole-stage codegen instead:
  * one pass accumulating dot product and both norms.
  *
  * Semantics match the composed form bit-for-bit: index-ordered double
  * accumulation, `dot / (sqrt(na) * sqrt(nb))`, NULL when either norm is 0
  * (the safeDiv convention) or either input is NULL. Arrays of unequal
  * length compare over the common prefix.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two array<double> arguments, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double dot = 0.0, na = 0.0, nb = 0.0;
         |for (int i = 0; i < n; i++) {
         |  double x = $a.getDouble(i);
         |  double y = $b.getDouble(i);
         |  dot += x * y; na += x * x; nb += y * y;
         |}
         |double denom = java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb);
         |if (denom == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = dot / denom;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
