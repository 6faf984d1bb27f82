package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.{GraftSqlAccess, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Max, Min, Percentile, PercentileCont => PercentileContCall, Sum}
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, NumericType}

import graft.functions.SortableDoubleBits
import graft.operators.PercentileCont

/** Optimizer rule: rewrite `PERCENTILE_CONT(p) WITHIN GROUP (ORDER BY v)`
  * aggregates (Spark's builtin `Percentile` / its `PercentileCont` sugar)
  * onto [[PercentileAggregate]], this library's one exact value-at-rank
  * engine, with [[graft.operators.PercentileCont]]'s ranks and
  * interpolation. It is the one way this library asks for an exact
  * percentile: the `sql/analytics` files reach it through SqlRunner, the
  * DataFrame library (tlc.Aggregations, tlc.Analytics, AggOps a2) writes
  * `percentile(col, lit(p))` inside its own aggregates, and
  * `PercentileCont.group` applies [[rewrite]] directly. Its plan builder,
  * [[build]], also serves `QuantileRefine.atRankExprs`'s weighted ranks.
  *
  * Why: the builtin is a TypedImperativeAggregate whose final merge
  * materializes each group's DISTINCT-value count map in ONE task
  * (PercentileCont's scaladoc carries the full scale argument — with the
  * reference's low-cardinality group keys over near-unique double fares the
  * buffer grows linearly with the corpus). Planning it in the optimizer
  * keeps the reference user's SQL text unchanged and keeps the scale
  * decision in one place for both entry points.
  *
  * Values are BIT-IDENTICAL, not approximately equal: the replacement
  * selects the builtin's elements (value at 0-indexed floor and ceil of
  * (n−1)·p over the non-NULL values in ascending order) and interpolates
  * with PercentileCont's expression tree, whose scaladoc +
  * PercentileContSpec pin bit-parity with the builtin for every dyadic
  * fraction p = num / 2^k; NULL groups, NULL values and a global
  * aggregate's one row over empty input behave as under the builtin.
  * Non-dyadic fractions, descending order, DISTINCT, FILTER clauses,
  * explicit frequency ≠ 1 and non-numeric values are NOT rewritten — the
  * builtin stays, correctness over posture.
  *
  * Shape: `Aggregate(G, aggs, child)` where some aggs contain rewritable
  * percentile calls becomes
  *
  * {{{
  *   Project(aggs over keys, interpolated        — original names
  *           percentiles, main results)          — and ExprIds
  *     PercentileAggregate(floor and ceil rank per percentile,
  *       pass 1: Aggregate(G, pcol, bucket: histogram + main aggregates,
  *                 Expand(row, row per value column, child)),
  *       pass 2: Expand(row per value column, child))
  * }}}
  *
  * The child is evaluated twice and nothing is cached: pass 1's hash
  * aggregate combines map-side before its one exchange, and
  * [[PercentileAggregate]] does the rest without generating code (its
  * scaladoc has the steps). A main aggregate the hash aggregate cannot
  * carry (DISTINCT, or a buffer it cannot hold) runs as its own aggregate,
  * left-joined on the group key. The replacement is built from resolved
  * Catalyst nodes, never re-analysed; it is left to the optimizer batches
  * that follow. Any failure while building it falls back to the original
  * aggregate: the rule can only ever trade the builtin for the
  * proven-equal plan.
  *
  * Installed by [[graft.GraftExtensions]]: injected into the operator
  * optimization batch of sessions built with the extension, added through
  * `spark.experimental` by `GraftExtensions.register` elsewhere (SqlRunner
  * calls it before running a file, tlc.Pipeline.derive and the Cli before
  * building the warehouse).
  * Kill switch: `spark.graft.sqlPercentileRewrite=false` sends both the SQL
  * files and the DataFrame library back to the builtin.
  */
object RewritePercentileAgg extends Rule[LogicalPlan] {

  /** (valueExpr, num, den) when `fn` is an ascending exact-interpolation
    * percentile at a dyadic fraction num / den, den = 2^k ≤ 1024. */
  private def contCall(fn: Expression): Option[(Expression, Int, Int)] = fn match {
    case p: Percentile if !p.discrete && !p.reverse && freqIsOne(p.frequencyExpression) =>
      fracOf(p.percentageExpression).map { case (n, d) => (p.child, n, d) }
    // the WITHIN GROUP sugar before ReplaceExpressions has run (analysis-
    // time registration path); replacement is Percentile(left, right, _)
    case p: PercentileContCall if !p.reverse =>
      fracOf(p.right).map { case (n, d) => (p.left, n, d) }
    case _ => None
  }

  private def fracOf(e: Expression): Option[(Int, Int)] =
    if (e.foldable && e.dataType == DoubleType) e.eval() match {
      case d: java.lang.Double => dyadic(d)
      case _ => None
    } else None

  /** p = num / den with den a power of two: scaling by den is exact, so
    * `p * den` integral ⟺ p is dyadic at that denominator. */
  private def dyadic(p: Double): Option[(Int, Int)] = {
    if (p.isNaN || p < 0.0 || p > 1.0) return None
    var den = 1
    while (den <= 1024) {
      val num = p * den
      if (num == math.rint(num)) return Some((num.toInt, den))
      den *= 2
    }
    None
  }

  private def freqIsOne(e: Expression): Boolean =
    e.foldable && (e.eval() match {
      case l: java.lang.Long => l == 1L
      case i: java.lang.Integer => i == 1
      case _ => false
    })

  private def pctOf(ae: AggregateExpression): Option[(Expression, Int, Int)] =
    if (ae.isDistinct || ae.filter.isDefined) None
    else contCall(ae.aggregateFunction).filter(_._1.dataType.isInstanceOf[NumericType])

  private def isPercentileFamily(ae: AggregateExpression): Boolean =
    ae.aggregateFunction.isInstanceOf[Percentile] ||
      ae.aggregateFunction.isInstanceOf[PercentileContCall]

  /** Fire only when every percentile call in the aggregate is rewritable —
    * a half-rewritten aggregate would still carry the single-task merge,
    * paying both plans for nothing — and when the aggregate and everything
    * under it is deterministic: the rewrite evaluates the child twice (pass
    * 1 with the main aggregates, and pass 2), and with rand()/uuid() in it the two evaluations would see
    * different rows, where the builtin sees one. */
  private[graft] def shouldRewrite(agg: Aggregate): Boolean = {
    val aes = agg.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae
    })
    val pcts = aes.filter(isPercentileFamily)
    pcts.nonEmpty && pcts.forall(ae => pctOf(ae).isDefined) &&
      agg.find(_.expressions.exists(!_.deterministic)).isEmpty
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val spark = SparkSession.active
    if (spark.conf.get("spark.graft.sqlPercentileRewrite", "true") != "true") plan
    else plan.transformUp {
      case agg: Aggregate if shouldRewrite(agg) =>
        try rewrite(agg)
        catch {
          case e: Exception =>
            logWarning(s"percentile rewrite fell back to the builtin: $e")
            agg
        }
    }
  }

  /** `agg` planned onto [[PercentileAggregate]]; every percentile call in
    * it must be rewritable (`shouldRewrite`). */
  private[graft] def rewrite(agg: Aggregate): LogicalPlan = {
    val keys = agg.groupingExpressions

    // ---- distinct value expressions, (value, num, den) specs and main
    // aggregates; value i is the specs' i-th distinct value (the pcol index)
    def idx[T <: Expression](buf: mutable.ArrayBuffer[T], e: T): Int = {
      val i = buf.indexWhere(_.semanticEquals(e))
      if (i >= 0) i else { buf += e; buf.size - 1 }
    }
    val values = mutable.ArrayBuffer.empty[Expression]
    val mains = mutable.ArrayBuffer.empty[AggregateExpression]
    val specs = mutable.LinkedHashMap.empty[(Int, Int, Int), Int]
    def pctIdx(ae: AggregateExpression): Option[Int] = pctOf(ae).map { case (x, n, d) =>
      specs.getOrElseUpdate((idx(values, x), n, d), specs.size) }
    agg.aggregateExpressions.foreach(_.foreach {
      case ae: AggregateExpression => if (pctIdx(ae).isEmpty) idx(mains, ae)
      case _ => ()
    })

    // ---- per spec its floor and ceil ranks, each row weighing 1
    val specSeq = specs.keys.toSeq
    val ranks = specSeq.flatMap { case (c, num, den) => PercentileCont.ranks(num, den).map(c -> _) }
    val (top, out) = build(agg.child, keys, values.toSeq, Literal(1L), ranks, mains.toSeq,
      agg.stats.sizeInBytes)
    val k = keys.size
    val (keysOut, mainOut) = (out.take(k), out.takeRight(mains.size))
    val (at, n) = (out.slice(k, k + ranks.size), out.slice(k + ranks.size, out.size - mains.size))

    // ---- the original outputs, ExprIds intact
    def substitute(e: Expression): Expression = e.transformDown {
      case ae: AggregateExpression => pctIdx(ae) match {
        case Some(i) =>
          val (c, num, den) = specSeq(i)
          PercentileCont.interpolate(at(2 * i), at(2 * i + 1), n(c), num, den)
        case None =>
          val m = mainOut(mains.indexWhere(_.semanticEquals(ae)))
          // COUNT over no rows is 0, not NULL: the one-row global answer
          ae.aggregateFunction.defaultResult.fold[Expression](m)(d => Coalesce(Seq(m, d)))
      }
      case k if keys.exists(_.semanticEquals(k)) => keysOut(keys.indexWhere(_.semanticEquals(k)))
    }
    val newPlan = Project(agg.aggregateExpressions.map {
      case al @ Alias(e, name) => Alias(substitute(e), name)(exprId = al.exprId,
        qualifier = al.qualifier, explicitMetadata = al.explicitMetadata)
      case a => Alias(substitute(a), a.name)(exprId = a.exprId, qualifier = a.qualifier)
    }, top)
    require(newPlan.resolved && newPlan.output.size == agg.output.size &&
      newPlan.output.zip(agg.output).forall { case (a, b) =>
        a.exprId == b.exprId && a.name == b.name && a.dataType == b.dataType
      }, "percentile rewrite changed the aggregate's output contract")
    newPlan
  }

  /** The [[PercentileAggregate]] plan of `child` grouped by `keys`: per
    * `ranks` entry (value index, rank over n), the value at that weighted
    * rank among the rows whose value is not NULL, each row weighing
    * `weight` (a bigint, > 0 on every row), and the `mains` aggregates.
    * Returns the plan and its outputs: the keys, one double per rank, the
    * total weight n per value, one attribute per main aggregate. */
  private[graft] def build(child: LogicalPlan, keys: Seq[Expression],
      values: Seq[Expression], weight: Expression, ranks: Seq[(Int, Expression)],
      mains: Seq[AggregateExpression], sizeInBytes: BigInt): (LogicalPlan, Seq[Attribute]) = {
    // ---- the child, read twice: per row its group key (float keys
    // normalized as GROUP BY normalizes them) and per value column (pcol,
    // v, w), v the value as a double, w its weight
    def attr(n: String, e: Expression) = AttributeReference(n, e.dataType, e.nullable)()
    val g = keys.map(GraftSqlAccess.normalizeFloats)
    def pcol = AttributeReference("__pcol", IntegerType)()
    def v = AttributeReference("__v", DoubleType)()
    def w = AttributeReference("__w", LongType)()
    val asDouble = values.map(Cast(_, DoubleType))

    // ---- pass 1 and the main aggregates in ONE hash aggregate (Spark's
    // RewriteDistinctAggregates pattern): each row once as itself (pcol, v,
    // w, b NULL), read by the main aggregates, and once per value column
    // with its bucket, read by the histogram. A main aggregate that cannot
    // ride it (DISTINCT, or a buffer the hash aggregate cannot hold) runs
    // as its own aggregate, joined on the group key.
    val (riding, apart) = mains.partition(ae => !ae.isDistinct &&
      Aggregate.supportsHashAggregate(ae.aggregateFunction.aggBufferAttributes, Nil))
    val read = AttributeSet(riding.flatMap(_.references)).toSeq
    val readAs = read.map(a => AttributeReference(a.name, a.dataType)())
    val (g1, p1, v1, w1, b1) = (keys.indices.map(i => attr(s"__pg$i", keys(i))), pcol, v, w,
      AttributeReference("__b", LongType)())
    val expand1 = Expand(
      (g ++ read ++ Seq(Literal(null, IntegerType), Literal(null, DoubleType),
        Literal(null, LongType), Literal(null, LongType))) +: asDouble.zipWithIndex.map {
        case (x, i) => g ++ read.map(a => Literal(null, a.dataType)) ++
          Seq(Literal(i), x, weight, ShiftRight(SortableDoubleBits(x), Literal(48)))
      }, g1 ++ readAs ++ Seq(p1, v1, w1, b1), child)
    val onRead = AttributeMap(read.zip(readAs))
    val ridingOut = riding.zipWithIndex.map { case (ae, j) =>
      val own = ae.transform { case a: Attribute => onRead.getOrElse(a, a) }
        .asInstanceOf[AggregateExpression]
      Alias(own.copy(filter = Some(own.filter.fold[Expression](IsNull(p1))(And(IsNull(p1), _)))),
        s"__ma$j")()
    }
    val pass1 = Aggregate(g1 ++ Seq(p1, b1), g1 ++ Seq(p1, b1,
      Alias(Sum(w1).toAggregateExpression(), "__bw")(),
      Alias(Min(v1).toAggregateExpression(), "__blo")(),
      Alias(Max(v1).toAggregateExpression(), "__bhi")()) ++ ridingOut,
      Filter(Or(IsNull(p1), IsNotNull(v1)), expand1))
    val (g2, p2, v2, w2) = (keys.indices.map(i => attr(s"__pg$i", keys(i))), pcol, v, w)
    val pass2 = Filter(IsNotNull(v2), Expand(asDouble.zipWithIndex.map { case (x, i) =>
      g ++ Seq(Literal(i), x, weight) }, g2 ++ Seq(p2, v2, w2), child))

    val keysOut = g1.map(_.newInstance())
    val atOut = ranks.indices.map(j => AttributeReference(s"__r$j", DoubleType)())
    val nOut = values.indices.map(i => AttributeReference(s"__n$i", LongType)())
    val ridingAttrs = ridingOut.map(a => AttributeReference(a.name, a.dataType)())
    val node = PercentileAggregate(keysOut ++ atOut ++ nOut ++ ridingAttrs, keys.size,
      ranks, sizeInBytes, pass1, pass2)
    val apartOut = apart.zipWithIndex.map { case (ae, j) => Alias(ae, s"__mb$j")() }
    val top = if (apart.isEmpty) node else {
      val ks = keys.zipWithIndex.map { case (k, i) => Alias(k, s"__ak$i")() }
      Join(node, Aggregate(keys, ks ++ apartOut, child), LeftOuter,
        keysOut.zip(ks).map { case (a, k) => EqualNullSafe(a, k.toAttribute): Expression }
          .reduceOption(And), JoinHint.NONE)
    }
    val mainAttr = riding.zip(ridingAttrs) ++ apart.zip(apartOut.map(_.toAttribute))
    (top, keysOut ++ atOut ++ nOut ++ mains.map(ae => mainAttr.find(_._1 eq ae).get._2))
  }
}
