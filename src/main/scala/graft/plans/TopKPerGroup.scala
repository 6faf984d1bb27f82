package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlAccess}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Top-K-per-group as a first-class operator: logical node + planner
  * strategy + heap-based physical operator.
  *
  * Why a custom plan (SURVEY.md §7.3 preference order — this is the one
  * whole-operator case where composing built-ins is structurally wasteful):
  * the composable form, `row_number().over(partitionBy(g).orderBy(o))`
  * + `filter(rn <= k)`, fully SORTS every group (WindowExec requires sorted
  * partitions), i.e. O(n log n) over ALL rows and a shuffle of the entire
  * input. The dedup-keep-best idiom of a training-data pipeline only needs
  * the k best rows per group: this operator keeps a bounded k-heap per group
  * in a pre-shuffle PARTIAL pass, shuffles only the ≤ k·groups survivors,
  * and reduces them in a FINAL pass — O(n log k) compute, shuffle volume
  * cut by up to |group|/k.
  *
  * The planner shape mirrors partial/final hash aggregation:
  * `Final(Exchange(Partial(child)))` — EnsureRequirements inserts the
  * exchange because the final node declares ClusteredDistribution.
  */
case class TopKPerGroup(
    k: Int,
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): TopKPerGroup =
    copy(child = c)
}

case class TopKPerGroupExec(
    k: Int,
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val groupLocal = groupExprs
    val orderLocal = order
    val outputLocal = child.output
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(groupLocal, outputLocal)
      val base = RowOrdering.create(orderLocal, outputLocal)
      // max-heap by sort order: head = the WORST row currently kept, so a
      // better incoming row evicts it in O(log k).
      implicit val ord: Ordering[InternalRow] =
        (a: InternalRow, b: InternalRow) => base.compare(a, b)
      val heaps = mutable.HashMap.empty[InternalRow, mutable.PriorityQueue[InternalRow]]
      iter.foreach { row =>
        val key = keyProj(row)
        heaps.get(key) match {
          case Some(q) =>
            if (q.size < kLocal) q.enqueue(row.copy())
            else if (base.compare(row, q.head) < 0) { q.dequeue(); q.enqueue(row.copy()) }
          case None =>
            val q = mutable.PriorityQueue.empty[InternalRow]
            q.enqueue(row.copy())
            heaps.put(key.copy(), q)
        }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): TopKPerGroupExec =
    copy(child = c)
}

/** Plans TopKPerGroup as partial → (exchange) → final. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(k, g, o, child) =>
      TopKPerGroupExec(k, g, o, partial = false,
        TopKPerGroupExec(k, g, o, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

object TopK {
  /** Keep the best `k` rows per group. `orderBy` is (column, ascending);
    * include tiebreak columns to make the result deterministic. */
  def perGroup(df: DataFrame, k: Int, groupCols: Seq[String],
               orderBy: Seq[(String, Boolean)]): DataFrame = {
    val spark = df.sparkSession
    graft.GraftExtensions.register(spark)
    val plan = GraftSqlAccess.analyzedPlan(df)
    def resolve(name: String): Attribute =
      plan.output.find(a => spark.sessionState.conf.resolver(a.name, name))
        .getOrElse(throw new IllegalArgumentException(
          s"column $name not in ${plan.output.map(_.name).mkString(", ")}"))
    val g = groupCols.map(resolve)
    val o = orderBy.map { case (n, asc) =>
      SortOrder(resolve(n), if (asc) Ascending else Descending)
    }
    GraftSqlAccess.ofRows(spark, TopKPerGroup(k, g, o, plan))
  }
}
