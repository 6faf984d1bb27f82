package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Jaro-Winkler similarity of two strings.
  *
  * Why a custom Expression (SURVEY.md §7.3 preference order): Spark ships
  * `levenshtein` but no Jaro-Winkler, and the composable alternatives
  * (a Scala UDF, or shingling + set math) either leave whole-stage codegen
  * or change the metric. Entity-resolution scoring (dd23) runs this in the
  * innermost candidate-pair loop, so it follows [[CosineSimilarity]]'s
  * pattern: a primitive-loop kernel invoked from generated code, staying
  * inside the codegen'd operator with no boxing or interpreted dispatch.
  *
  * Semantics are the textbook Jaro-Winkler used by DuckDB's
  * `jaro_winkler_similarity` (the oracle's reference; standard Winkler
  * parameters p = 0.1, max prefix 4, boost threshold 0.7):
  *   - either side empty → 0.0 (both-empty included, matching DuckDB)
  *   - match window = max(|a|,|b|)/2 − 1 (floor, min 0)
  *   - jaro = (m/|a| + m/|b| + (m−t)/m) / 3, t = transposition pairs / 2
  *   - winkler boost only when jaro > 0.7: jaro + ℓ·0.1·(1 − jaro),
  *     ℓ = common prefix length capped at 4.
  * Comparison is per UTF-8 BYTE, exactly like DuckDB's implementation —
  * a multi-byte character counts as multiple units on both engines, so
  * scores agree on non-ASCII text too (char-level comparison would
  * diverge the moment an accented character appears; LinkageOpsSpec pins
  * the byte-level values for 'ébc'/'abc'). Consumers bucket/threshold the
  * result with the repo's 1e-9 bias so a ±few-ulp engine difference in
  * the final double chain cannot flip a gate boundary.
  */
case class JaroWinklerSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"jaro_winkler expects two string arguments, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any =
    java.lang.Double.valueOf(JaroWinklerSimilarity.sim(
      l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.JaroWinklerSimilarity.sim($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinklerSimilarity =
    copy(left = newLeft, right = newRight)
}

object JaroWinklerSimilarity {

  /** The kernel — static so generated code calls it directly (the pattern
    * Spark's own `levenshtein` uses via UTF8String.levenshteinDistance). */
  def sim(l: UTF8String, r: UTF8String): Double = {
    val s1 = l.getBytes
    val s2 = r.getBytes
    val n1 = s1.length
    val n2 = s2.length
    if (n1 == 0 || n2 == 0) return 0.0
    val window = math.max(0, math.max(n1, n2) / 2 - 1)
    val m1 = new Array[Boolean](n1)
    val m2 = new Array[Boolean](n2)
    var m = 0
    var i = 0
    while (i < n1) {
      val lo = math.max(0, i - window)
      val hi = math.min(n2 - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && s1(i) == s2(j)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: matched bytes of s1 vs matched bytes of s2 in order
    var t = 0
    var k = 0
    i = 0
    while (i < n1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1(i) != s2(k)) t += 1
        k += 1
      }
      i += 1
    }
    val half = t / 2
    val md = m.toDouble
    val jaro = (md / n1 + md / n2 + (md - half) / md) / 3.0
    if (jaro <= 0.7) return jaro
    var prefix = 0
    val maxP = math.min(4, math.min(n1, n2))
    while (prefix < maxP && s1(prefix) == s2(prefix)) prefix += 1
    jaro + prefix * 0.1 * (1.0 - jaro)
  }
}
