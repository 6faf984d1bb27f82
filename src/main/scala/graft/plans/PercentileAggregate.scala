package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeSet, BoundReference, CreateStruct, Expression, GenericInternalRow, InterpretedMutableProjection, InterpretedUnsafeProjection, NamedExpression, SortOrder, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, HashPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.aggregate.{AggUtils, HashAggregateExec, TungstenAggregationIterator}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.internal.SQLConf

import graft.functions.SortableDoubleBits

/** The values at weighted ranks of one aggregate, planned by
  * [[RewritePercentileAgg]]: ONE aggregate over (group, value column,
  * value), and one streaming pass over its sorted rows in an operator
  * with no whole-stage code that starts no job. It is this library's one
  * exact value-at-rank engine: the percentile rewrite, PercentileCont.group
  * and QuantileRefine.atRankExprs all plan onto it.
  *
  * `child` is an `Aggregate` grouped by (keys..., pcol, bits): one row per
  * (group, value column, distinct value), bits the value's
  * [[SortableDoubleBits]] and w its total weight, plus one main row per
  * group whose pcol and bits are NULL, carrying the total weight n per value
  * column and the aggregate's other functions: (keys..., pcol, bits, w,
  * n..., mains...). Output: (keys..., the value at each rank, n per value
  * column, mains...).
  *
  * The strategy plans `child`'s partial step, which combines map-side, and
  * ONE exchange hashed on the group keys, so a whole group meets in one
  * task; the operator reads it once, sorted by bits NULLS FIRST (one long
  * key, which Spark's sort radix-sorts). The main rows come first, one per
  * group and map task, and the operator merges them with the final step's
  * aggregation iterator. The value rows follow in ascending order, and the
  * operator needs no distinct values, only the values in order: per group
  * it keeps the output row, each rank and each column's running weight,
  * and a rank's value is the first of its group and column whose running
  * weight reaches it (equal values from different map tasks are adjacent,
  * so they need no merging). No task holds a group's values: the sort
  * spills, and what stays in memory is one output row per group of the
  * task.
  *
  * @param ranks per output value, (value column, rank): the rank is a
  *              bigint expression over the column's total weight n (input
  *              ordinal 0), evaluated interpreted; a rank outside [1, n]
  *              has no value (NULL)
  */
case class PercentileAggregate(
    output: Seq[Attribute],
    keys: Int,
    ranks: Seq[(Int, Expression)],
    sizeInBytes: BigInt,
    child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = outputSet
  // every column of the aggregate is read: no rule prunes them from outside
  override def references: AttributeSet = child.outputSet
  override def stats: Statistics = Statistics(sizeInBytes)
  override protected def withNewChildInternal(c: LogicalPlan): PercentileAggregate =
    copy(child = c)
}

case class PercentileAggregateExec(
    output: Seq[Attribute],
    keys: Int,
    ranks: Seq[(Int, Expression)],
    mergeKeys: Seq[NamedExpression],
    merges: Seq[AggregateExpression],
    mergeAttributes: Seq[Attribute],
    merged: Seq[NamedExpression],
    child: SparkPlan) extends UnaryExecNode {
  import PercentileAggregateExec.Group

  override def producedAttributes: AttributeSet = outputSet

  // the final step's, for its merge of the main rows
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "peakMemory" -> SQLMetrics.createSizeMetric(sparkContext, "peak memory"),
    "spillSize" -> SQLMetrics.createSizeMetric(sparkContext, "spill size"),
    "avgHashProbe" -> SQLMetrics.createAverageMetric(sparkContext, "avg hash probes per key"),
    "numTasksFallBacked" -> SQLMetrics.createMetric(sparkContext, "number of sort fallback tasks"))

  override def requiredChildDistribution: Seq[Distribution] =
    (if (keys == 0) AllTuples else ClusteredDistribution(child.output.take(keys))) :: Nil

  // by bits, NULLS FIRST: the main rows, then the values ascending; one
  // long key, so the sort is a radix sort on it
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(SortOrder(child.output(keys + 1), Ascending)) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val (k, rk) = (keys, ranks.toArray)
    val types = output.map(_.dataType)
    val m = rk.map(_._1).max + 1
    // the rows' columns as the final step binds them (HashAggregateExec's
    // inputAttributes): keys, pcol, bits, the partial buffers, the group
    val group = child.output.last
    val inputs = child.output.take(k + 2) ++
      merges.flatMap(_.aggregateFunction.inputAggBufferAttributes) :+ group
    // Spark's test switch that sends the final step to its sort fallback
    val fallback = Option(conf.getConfString("spark.sql.TungstenAggregate.testFallbackStartsAt", null))
      .map(_.split(",").map(_.trim.toInt)).map(at => (at.head, at.last))
    val Seq(rowsOut, peak, spill, probes, fallbacks) = Seq("numOutputRows", "peakMemory",
      "spillSize", "avgHashProbe", "numTasksFallBacked").map(longMetric)
    val sorted = child.execute()
    // AQE may hand a global aggregate's empty input over as no partition
    val input = if (k == 0 && sorted.getNumPartitions == 0) {
      sparkContext.parallelize(Seq.empty[InternalRow], 1)
    } else sorted
    input.mapPartitionsWithIndex { (part, partRows) =>
      val rows = partRows.buffered
      // a row's group: its last column, the keys as one struct, compared
      // and hashed by its bytes
      def key(r: InternalRow) = r.getStruct(r.numFields - 1, k).asInstanceOf[UnsafeRow]
      // per group: its output row, each rank, each column's running weight
      val groups = new java.util.LinkedHashMap[UnsafeRow, Group]()
      // the main rows, one per group and map task, merged by the final step
      val mainRows = new Iterator[InternalRow] {
        def hasNext: Boolean = rows.hasNext && rows.head.isNullAt(k + 1)
        def next(): InternalRow = rows.next()
      }
      if (mainRows.hasNext) new TungstenAggregationIterator(part, mergeKeys :+ group, merges,
          mergeAttributes, k + 2, merged :+ group, new InterpretedMutableProjection(_, _), inputs,
          mainRows, fallback, rowsOut, peak, spill, probes, fallbacks).foreach { main =>
        // the keys, n per value column and the main aggregates
        val r = main.copy()
        val row = new GenericInternalRow(types.size)
        (0 until k).foreach(i => row.update(i, r.get(i, types(i))))
        val n = Array.tabulate(m)(c => r.getLong(k + 3 + c))
        n.indices.foreach(c => row.setLong(k + rk.length + c, n(c)))
        (k + rk.length + m until types.size).foreach { o =>
          row.update(o, r.get(o - rk.length + 3, types(o)))
        }
        val rank = rk.map { case (c, rankOf) =>
          val x = rankOf.eval(InternalRow(n(c))).asInstanceOf[java.lang.Long]
          if (x != null && x >= 1L && x <= n(c)) x.longValue else 0L
        }
        groups.put(key(r), Group(row, rank, new Array[Long](m)))
      }
      // the values ascending: a rank's value is the first whose running
      // weight in its group and column reaches it
      rows.foreach { r =>
        val g = groups.get(key(r))
        val (c, w) = (r.getInt(k), r.getLong(k + 2))
        rk.indices.foreach { j =>
          if (rk(j)._1 == c && g.seen(c) < g.rank(j) && g.seen(c) + w >= g.rank(j)) {
            g.row.setDouble(k + j, SortableDoubleBits.toDouble(r.getLong(k + 1)))
          }
        }
        g.seen(c) += w
      }
      // a global aggregate answers one row even over no input
      val answers = if (k == 0 && groups.isEmpty) Iterator(new GenericInternalRow(types.size))
        else groups.values.iterator.asScala.map(_.row)
      answers.map(InterpretedUnsafeProjection.createProjection(types.zipWithIndex.map {
        case (t, i) => BoundReference(i, t, nullable = true) }))
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): PercentileAggregateExec =
    copy(child = c)
}

object PercentileAggregateExec {

  /** One group's output row, the rank of each output value and the running
    * weight of each value column. */
  case class Group(row: GenericInternalRow, rank: Array[Long], seen: Array[Long])
}

/** Plans [[PercentileAggregate]] over its aggregate's two builtin steps. */
object PercentileAggregateStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p @ PercentileAggregate(_, k, _, _, PhysicalAggregation(g, aggs, res, child)) =>
      // the partial step, then ONE exchange on the group keys; each row's
      // keys appended as one struct, and the final step handed to the
      // operator, which runs it over the main rows only
      val Seq(last: HashAggregateExec) =
        AggUtils.planAggregateWithoutDistinct(g, aggs, res, planLater(child))
      val cols = last.child.output
      val shuffle = ShuffleExchangeExec(if (k == 0) SinglePartition
        else HashPartitioning(cols.take(k), SQLConf.get.numShufflePartitions), last.child)
      PercentileAggregateExec(p.output, k, p.ranks, last.groupingExpressions,
        last.aggregateExpressions, last.aggregateAttributes, last.resultExpressions,
        ProjectExec(cols :+ Alias(CreateStruct(cols.take(k)), "__key")(), shuffle)) :: Nil
    case _ => Nil
  }
}
