package graft.plans

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BoundReference, Expression, GenericInternalRow, InterpretedUnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.CoalesceShufflePartitions
import org.apache.spark.sql.types.DataType

/** The values at weighted ranks of one aggregate, planned by
  * [[RewritePercentileAgg]]: the two passes of a bit-prefix histogram
  * refinement as Spark plans, and everything between and after them in ONE
  * operator that generates no code. It is this library's one exact
  * value-at-rank engine: the percentile rewrite, PercentileCont.group and
  * QuantileRefine.atRankExprs all plan onto it.
  *
  * `pass1` is the bit-prefix histogram with the aggregate's other functions
  * riding it: (keys..., pcol, b, bw, blo, bhi, mains...), one row per
  * (group, value column, bucket) of weight bw plus one main row per group
  * whose pcol is NULL. `pass2` is the value rows: (keys..., pcol, v, w), v
  * non-NULL, weight w > 0. Output: (keys..., the value at each rank, the
  * total weight n per value column, mains...).
  *
  * The operator (i) gathers each group's histogram in one task — bounded by
  * the 2^16 bucket key space, never by the corpus — and locates every rank
  * in it; a rank whose bucket holds one value is answered there; (ii)
  * collects the other ranks' residual intervals (a few per group) and
  * broadcasts them; (iii) keeps the pass-2 rows inside an interval, and
  * (iv) sorts them per group beside the group's located state, so one
  * streaming pass selects each rank's value: the first row whose running
  * weight reaches the residual rank. Pass 2 is not run when no rank needs
  * it. Nothing is cached: step (ii) and step (iv) both read the located
  * state back from step (i)'s one shuffle.
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
    pass1: LogicalPlan,
    pass2: LogicalPlan) extends BinaryNode {
  override def left: LogicalPlan = pass1
  override def right: LogicalPlan = pass2
  override def producedAttributes: AttributeSet = outputSet
  // every column of both passes is read: no rule prunes them from outside
  override def references: AttributeSet = pass1.outputSet ++ pass2.outputSet
  override def stats: Statistics = Statistics(sizeInBytes)
  override protected def withNewChildrenInternal(
      l: LogicalPlan, r: LogicalPlan): PercentileAggregate = copy(pass1 = l, pass2 = r)
}

case class PercentileAggregateExec(
    output: Seq[Attribute],
    keys: Int,
    ranks: Seq[(Int, Expression)],
    pass1: SparkPlan,
    pass2: SparkPlan) extends BinaryExecNode {
  import PercentileAggregateExec._

  override def left: SparkPlan = pass1
  override def right: SparkPlan = pass2

  override protected def doExecute(): RDD[InternalRow] = {
    val k = keys
    val rk = ranks.toArray
    val types = output.map(_.dataType)
    val keyTypes = types.take(k)
    val mainTypes = pass1.output.drop(k + 5).map(_.dataType)
    // AQE coalesces no shuffle read below this operator: it forms no
    // coalesce group under a binary node whose leaves are not all query
    // stages, and pass 2's leaves are scans. So pass 1's materialized stage
    // is coalesced here, by Spark's own rule, before its final aggregate
    // runs (a no-op without AQE, where pass 1 holds no query stage).
    val hist = CoalesceShufflePartitions(session).apply(pass1).execute()
    // as many tasks as pass 1's final aggregate runs, at most the
    // session's shuffle partitions
    val parts = if (k == 0) 1 else hist.getNumPartitions.min(conf.numShufflePartitions).max(1)

    // (i) every group's histogram in one task, its ranks located there
    val located = hist.mapPartitions { rows =>
      val key = projection(keyTypes)
      rows.map(r => (key(r).copy(), r.copy()))
    }.groupByKey(new HashPartitioner(parts)).mapValues(locate(k, rk, mainTypes, _))

    // (ii) the residual intervals of the ranks not yet answered
    val live = located.flatMap { case (g, s) =>
      s.r.indices.filter(s.r(_) > 0).map(j => (g, rk(j)._1) -> (j, s.lo(j), s.hi(j)))
    }.collect().groupBy(_._1).map { case (gp, js) => gp -> js.map(_._2) }
    val states = located.map { case (g, s) => (Key(g, -1, 0.0, 0L), s) }
    val rows = if (live.isEmpty) states else {
      // (iii) pass 2: the rows inside a live rank's interval, once per rank
      val intervals = sparkContext.broadcast(live)
      states.union(pass2.execute().mapPartitions { rows =>
        val key = projection(keyTypes)
        rows.flatMap { r =>
          val g = key(r)
          val v = r.getDouble(k + 1)
          intervals.value.getOrElse((g, r.getInt(k)), Array.empty[(Int, Double, Double)])
            .iterator.collect { case (j, lo, hi) if compareDoubles(v, lo) >= 0 &&
              compareDoubles(v, hi) <= 0 => (Key(g.copy(), j, v, r.getLong(k + 2)), null: State) }
        }
      })
    }

    // (iv) per group: its state, then each live rank's rows by v ascending
    rows.repartitionAndSortWithinPartitions(new HashPartitioner(parts)).mapPartitions { it =>
      val out = projection(types)
      val in = it.buffered
      var global = k == 0
      new Iterator[InternalRow] {
        override def hasNext: Boolean = in.hasNext || global
        override def next(): InternalRow = {
          global = false
          // a global aggregate answers one row even over no input
          if (!in.hasNext) return out(new GenericInternalRow(types.size))
          val (group, s) = in.next()
          var rank = -1
          var seen = 0L
          while (in.hasNext && in.head._1.rank >= 0) {
            val row = in.next()._1
            if (row.rank != rank) { rank = row.rank; seen = 0L }
            // the first row whose running weight reaches the residual rank
            if (seen < s.r(rank) && seen + row.w >= s.r(rank)) s.at(rank) = row.v
            seen += row.w
          }
          out(s.row(group.g, k, types))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      l: SparkPlan, r: SparkPlan): PercentileAggregateExec = copy(pass1 = l, pass2 = r)
}

object PercentileAggregateExec {

  /** An UnsafeRow of the leading `types.size` columns, interpreted: this
    * operator compiles no code. */
  private def projection(types: Seq[DataType]) =
    InterpretedUnsafeProjection.createProjection(types.zipWithIndex.map {
      case (t, i) => BoundReference(i, t, nullable = true) })

  /** A shuffle key: the group, the rank (−1: the group's state, sorted
    * first), the value and its weight. Hashes by group only, so a group
    * meets in one task; sorts by group, rank and value. */
  case class Key(g: UnsafeRow, rank: Int, v: Double, w: Long) {
    override def hashCode: Int = g.hashCode
  }

  implicit val keyOrdering: Ordering[Key] = (a: Key, b: Key) => {
    val byGroup = java.util.Arrays.compareUnsigned(a.g.getBytes, b.g.getBytes)
    if (byGroup != 0) byGroup
    else if (a.rank != b.rank) Integer.compare(a.rank, b.rank)
    else compareDoubles(a.v, b.v)
  }

  /** One group's located state: per value column its total weight `n`; per
    * rank its value `at` (NULL: none yet), or, while `r` > 0, its residual
    * interval [lo, hi] and the rank within it. */
  case class State(main: InternalRow, n: Array[Long], at: Array[java.lang.Double],
      r: Array[Long], lo: Array[Double], hi: Array[Double]) {

    /** The output row: keys, the value at each rank, n per value column,
      * the main aggregates. */
    def row(g: UnsafeRow, k: Int, types: Seq[DataType]): InternalRow = {
      val vals = (0 until k).map(i => g.get(i, types(i))) ++ at ++ n ++
        (if (main == null) Nil else main.toSeq(types.drop(k + at.length + n.length)))
      new GenericInternalRow(vals.toArray[Any])
    }
  }

  /** Locates every rank of one group in its buckets (pass-1 rows). */
  private def locate(k: Int, ranks: Array[(Int, Expression)],
      mainTypes: Seq[DataType],
      rows: Iterable[InternalRow]): State = {
    val buckets = Array.fill(ranks.map(_._1).max + 1)(mutable.ArrayBuffer.empty[InternalRow])
    var main: InternalRow = null
    rows.foreach { r =>
      if (r.isNullAt(k)) main = new GenericInternalRow(
        mainTypes.zipWithIndex.map { case (t, j) => r.get(k + 5 + j, t) }.toArray)
      else buckets(r.getInt(k)) += r
    }
    val n = buckets.map(_.iterator.map(_.getLong(k + 2)).sum)
    val sorted = buckets.map(_.sortBy(_.getLong(k + 1)))
    val s = State(main, n, new Array(ranks.length), new Array(ranks.length),
      new Array(ranks.length), new Array(ranks.length))
    for (((c, rankOf), j) <- ranks.zipWithIndex) {
      val rank = rankOf.eval(InternalRow(n(c))) match {
        case r: Long if r >= 1 && r <= n(c) => r
        case _ => 0L
      }
      if (rank > 0) {
        var below = 0L
        val b = sorted(c).find { b => below += b.getLong(k + 2); below >= rank }.get
        val (lo, hi) = (b.getDouble(k + 3), b.getDouble(k + 4))
        if (compareDoubles(lo, hi) < 0) {
          s.r(j) = rank - (below - b.getLong(k + 2))
          s.lo(j) = lo
          s.hi(j) = hi
        } else s.at(j) = lo
      }
    }
    s
  }
}

/** Plans [[PercentileAggregate]]. */
object PercentileAggregateStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: PercentileAggregate =>
      PercentileAggregateExec(p.output, p.keys, p.ranks, planLater(p.pass1), planLater(p.pass2)) :: Nil
    case _ => Nil
  }
}
