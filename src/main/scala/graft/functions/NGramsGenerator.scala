package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst GENERATOR (the UDTF rung of the extension ladder —
  * SURVEY.md §2.12): one input row of tokens → one output row per n-gram.
  *
  * Why a Generator rather than `explode(transform(sequence(...)))`: the
  * composed form materializes the WHOLE per-row n-gram array before the
  * explode copies it out again — double the allocation on the widest rows,
  * executed through interpreted higher-order lambdas. A Generator streams
  * each n-gram straight into the `Generate` operator's output iterator, the
  * same seam Spark's own `explode`/`posexplode`/`inline` use, and the
  * tokenize→n-gram step is the single hottest map in a text corpus
  * pipeline. Works in both `Dataset.select` and (as `ngrams`, installed by
  * [[graft.GraftExtensions]]) SQL `LATERAL VIEW` / generator-function
  * position.
  *
  * Semantics: rows with fewer than `n` tokens yield nothing (matching the
  * `size(ts) >= n` guards used across graft.ops); NULL input yields nothing.
  */
case class NGramsGenerator(child: Expression, n: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"ngrams expects array<string> and n >= 1, got ${child.dataType.simpleString}, n=$n")
  }

  override def elementSchema: StructType =
    StructType(StructField("ngram", StringType, nullable = false) :: Nil)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = child.eval(input)
    if (arr == null) return Iterator.empty
    val data = arr.asInstanceOf[ArrayData]
    val len = data.numElements()
    if (len < n) return Iterator.empty
    val sep = UTF8String.fromString(" ")
    (0 to len - n).iterator.map { i =>
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = data.getUTF8String(i + j); j += 1 }
      InternalRow(UTF8String.concatWs(sep, parts: _*))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): NGramsGenerator =
    copy(child = newChild)
}

object NGramsGenerator {
  /** Fold a registration-time argument to an Int, with a clear error when
    * the caller passes a column or a non-integral literal (a bare
    * `.eval(null).asInstanceOf[Int]` throws an opaque ClassCastException /
    * NPE at parse time for e.g. `CAST(4 AS BIGINT)` or a column ref). */
  private[graft] def literalInt(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      fn: String): Int = {
    def fail(got: String): Nothing = throw new IllegalArgumentException(
      s"$fn(input, n): n must be a foldable integer literal, got $got")
    if (!e.foldable) fail(s"non-foldable expression ${e.sql}")
    e.eval(null) match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case null => fail("NULL")
      case other => fail(s"${other.getClass.getSimpleName} ${e.sql}")
    }
  }
}
