package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst GENERATOR for CHARACTER n-grams: one input string row →
  * one output row per length-`n` character window (the shingle scan of
  * vocabulary-coverage / fingerprinting pipelines, tok3's hot map).
  *
  * Why not `explode(transform(sequence(1, length(text) - n + 1),
  * i -> substring(text, i, n)))`: that shape materializes the whole per-row
  * gram array through interpreted higher-order lambdas, and every
  * `substring(text, i, n)` call re-walks the string from byte 0 to find the
  * i-th character — O(len²) byte work per document on top of the double
  * allocation. This generator makes ONE pass to index the UTF-8 character
  * boundaries, then emits each gram as a byte-slice copy — O(len) total —
  * streaming straight into `Generate` like [[NGramsGenerator]] (the
  * token-n-gram sibling; same extension rung, SURVEY.md §2.12).
  *
  * Semantics match the composed form exactly: strings shorter than `n`
  * characters yield nothing, NULL yields nothing, windows advance one
  * CHARACTER (code point) at a time — identical to DuckDB's
  * `substr(text, i, n)` oracle on any UTF-8 input.
  */
case class CharGramsGenerator(child: Expression, n: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"char_grams expects (string, n >= 1), got ${child.dataType.simpleString}, n=$n")
  }

  override def elementSchema: StructType =
    StructType(StructField("gram", StringType, nullable = false) :: Nil)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val nb = bytes.length
    // one pass: byte offset of every character boundary (UTF-8 leading-byte
    // decode), offs(numChars) = nb so gram k spans offs(k) until offs(k + n)
    val offs = new Array[Int](nb + 1)
    var nc = 0
    var i = 0
    while (i < nb) {
      offs(nc) = i
      nc += 1
      val u = bytes(i) & 0xFF
      i += (if (u < 0x80) 1 else if (u < 0xE0) 2 else if (u < 0xF0) 3 else 4)
    }
    offs(nc) = nb
    if (nc < n) return Iterator.empty
    (0 to nc - n).iterator.map { k =>
      InternalRow(UTF8String.fromBytes(bytes, offs(k), offs(k + n) - offs(k)))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): CharGramsGenerator =
    copy(child = newChild)
}
