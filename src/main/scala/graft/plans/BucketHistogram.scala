package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlAccess}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Cast, Expression, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions.{col, max, min, sum}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.SortableDoubleBits

/** Multi-column bit-prefix histogram as ONE corpus pass (r13 verdict
  * item 2; guide §1.2 step 1 / §2.3 "aggregate before you shuffle").
  *
  * [[graft.operators.PercentileCont]]'s pass 1 fed every requested value
  * column through a `stack()` unpivot into one hash aggregate keyed
  * (group…, pcol, bucket) — correct and mergeable, but the Generate
  * multiplies the rows flowing through the corpus-side aggregate by the
  * COLUMN COUNT (agg_pricing_by_zone_hour stacks 5 distinct columns → 5×
  * the fact through pass 1; the measured +28–30% warehouse stage-wall
  * premium in BENCH_E2E_r13). This operator computes the identical bucket
  * table in a single pass: each input row updates one sparse per-(group,
  * column) bucket map — `(count, min, max)` keyed by
  * `sortableDoubleBits(v) >> bitShift`, the exact arithmetic of the
  * `shiftright(sortable_double_bits(v), s)` expression it replaces — and
  * the partition emits its partial bucket rows at the end.
  *
  * State is bounded by construction, twice over: the key space per
  * (group, column) is fixed at 2^(64−bitShift) buckets regardless of the
  * data (SortableDoubleBits' scaladoc), and a partition whose resident
  * entry count crosses [[BucketHistogramExec.FlushEntries]] flushes its
  * partials mid-stream and starts over — downstream merge-aggregation
  * (SUM/MIN/MAX per bucket) absorbs duplicate partials by definition, so
  * flushing trades a few extra shuffle rows for a hard memory ceiling
  * (the same contract as Spark's own partial hash aggregate, without the
  * sort-based fallback that ObjectHashAggregate would impose past 128
  * groups).
  *
  * The operator only does the PARTIAL pass; [[BucketHist.of]] stacks the
  * ordinary codegen hash aggregate on top for the final merge, so the
  * shuffle still moves only bucket-table rows (groups × columns × occupied
  * buckets), never corpus rows.
  */
case class BucketHistogram(
    groupExprs: Seq[Attribute],
    valueLabels: Seq[String],
    valueExprs: Seq[Expression],
    bitShift: Int,
    outAttrs: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  require(valueLabels.size == valueExprs.size)
  require(bitShift >= 0 && bitShift < 64)
  override def output: Seq[Attribute] = groupExprs ++ outAttrs
  // pcol/b/bc/blo/bhi are GENERATED here, not consumed from the child —
  // without this the analyzer reports them as missing input attributes.
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(outAttrs)
  override protected def withNewChildInternal(c: LogicalPlan): BucketHistogram =
    copy(child = c)
}

case class BucketHistogramExec(
    groupExprs: Seq[Attribute],
    valueLabels: Seq[String],
    valueExprs: Seq[Expression],
    bitShift: Int,
    outAttrs: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = groupExprs ++ outAttrs

  override protected def doExecute(): RDD[InternalRow] = {
    val groupLocal = groupExprs
    val valueLocal = valueExprs
    val labels = valueLabels.map(UTF8String.fromString).toArray
    val shift = bitShift
    val childOut = child.output
    val groupTypes: Array[DataType] = groupExprs.map(_.dataType).toArray
    // override only exists so the spec can force mid-stream flushes
    val flushAt = conf.getConfString("spark.graft.bucketHist.flushEntries",
      BucketHistogramExec.FlushEntries.toString).toInt
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(groupLocal, childOut)
      val valProj = UnsafeProjection.create(valueLocal, childOut)
      val nCols = valueLocal.size
      val nGroup = groupTypes.length

      final class Stat(var c: Long, var lo: Double, var hi: Double)
      val acc = mutable.HashMap.empty[UnsafeRow, Array[mutable.LongMap[Stat]]]
      var entries = 0

      def consume(row: InternalRow): Unit = {
        val vals = valProj(row)
        val key = keyProj(row)
        val maps = acc.getOrElseUpdate(key.copy(),
          Array.fill(nCols)(mutable.LongMap.empty[Stat]))
        var i = 0
        while (i < nCols) {
          if (!vals.isNullAt(i)) {
            val v = vals.getDouble(i)
            val b = SortableDoubleBits.sortable(v) >> shift
            val m = maps(i)
            val st = m.getOrNull(b)
            if (st == null) {
              m.update(b, new Stat(1L, v, v))
              entries += 1
            } else {
              st.c += 1L
              if (v < st.lo) st.lo = v
              if (v > st.hi) st.hi = v
            }
          }
          i += 1
        }
      }

      def drain(): Iterator[InternalRow] = {
        val snapshot = acc.toArray
        acc.clear()
        entries = 0
        snapshot.iterator.flatMap { case (key, maps) =>
          val groupVals = Array.tabulate[Any](nGroup)(i => key.get(i, groupTypes(i)))
          maps.iterator.zipWithIndex.flatMap { case (m, ci) =>
            m.iterator.map { case (b, st) =>
              val out = new Array[Any](nGroup + 5)
              System.arraycopy(groupVals, 0, out, 0, nGroup)
              out(nGroup) = labels(ci)
              out(nGroup + 1) = b
              out(nGroup + 2) = st.c
              out(nGroup + 3) = st.lo
              out(nGroup + 4) = st.hi
              new GenericInternalRow(out): InternalRow
            }
          }
        }
      }

      new Iterator[InternalRow] {
        private var out: Iterator[InternalRow] = Iterator.empty
        override def hasNext: Boolean = {
          while (!out.hasNext && (iter.hasNext || entries > 0)) {
            // consume until input exhausted or the flush ceiling is hit
            while (iter.hasNext && entries < flushAt) consume(iter.next())
            if (entries > 0) out = drain()
          }
          out.hasNext
        }
        override def next(): InternalRow = out.next()
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): BucketHistogramExec =
    copy(child = c)
}

object BucketHistogramExec {
  /** Hard per-partition ceiling on resident (group, column, bucket)
    * entries before a mid-stream partial flush (~48 B/entry live state). */
  val FlushEntries: Int = 1 << 22
}

/** Plans [[BucketHistogram]]; the final merge is ordinary aggregation added
  * by [[BucketHist.of]], so no exchange is required here. */
object BucketHistogramStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case BucketHistogram(g, labels, vals, shift, out, child) =>
      BucketHistogramExec(g, labels, vals, shift, out, planLater(child)) :: Nil
    case _ => Nil
  }
}

object BucketHist {
  /** The bucket table (groupCols…, pcol, b, bc, blo, bhi) of every
    * `valueCols` column of `df`, grouped by `groupCols` — bit-identical to
    * the stacked-unpivot histogram it replaces (same bucket function, and
    * SUM/MIN/MAX over per-partition partials equals SUM/MIN/MAX over rows),
    * computed in ONE pass over `df` instead of |valueCols| stacked copies. */
  def of(df: DataFrame, groupCols: Seq[String], valueCols: Seq[String],
         bitShift: Int): DataFrame = {
    val spark = df.sparkSession
    graft.GraftExtensions.register(spark)
    val plan = GraftSqlAccess.analyzedPlan(df)
    def resolve(name: String): Attribute =
      plan.output.find(a => spark.sessionState.conf.resolver(a.name, name))
        .getOrElse(throw new IllegalArgumentException(
          s"column $name not in ${plan.output.map(_.name).mkString(", ")}"))
    val g = groupCols.map(resolve)
    val vals: Seq[Expression] = valueCols.map(c => Cast(resolve(c), DoubleType))
    val outAttrs = Seq(
      AttributeReference("pcol", StringType, nullable = false)(),
      AttributeReference("b", LongType, nullable = false)(),
      AttributeReference("bc", LongType, nullable = false)(),
      AttributeReference("blo", DoubleType, nullable = false)(),
      AttributeReference("bhi", DoubleType, nullable = false)())
    val partial = GraftSqlAccess.ofRows(spark,
      BucketHistogram(g, valueCols, vals, bitShift, outAttrs, plan))
    partial
      .groupBy((groupCols ++ Seq("pcol", "b")).map(col): _*)
      .agg(sum(col("bc")).as("bc"), min(col("blo")).as("blo"),
        max(col("bhi")).as("bhi"))
  }
}
