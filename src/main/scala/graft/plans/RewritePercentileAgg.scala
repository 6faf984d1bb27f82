package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.{GraftSqlAccess, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Percentile, PercentileCont => PercentileContCall}
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, NumericType}

import graft.functions.SortableDoubleBits

/** Optimizer rule: rewrite `PERCENTILE_CONT(p) WITHIN GROUP (ORDER BY v)`
  * aggregates (Spark's builtin `Percentile` / its `PercentileCont` sugar)
  * onto [[graft.operators.PercentileCont]]'s mergeable two-pass
  * reconstruction. It is the one way this library asks for an exact
  * percentile: the `sql/analytics` files reach it through SqlRunner, and
  * the DataFrame library (tlc.Aggregations, tlc.Analytics, AggOps a2)
  * writes `percentile(col, lit(p))` inside its own aggregates.
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
  *   Project(aggs over keys, percentiles, main results)  — original names
  *     PercentileAggregate(                               — and ExprIds
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
  private def shouldRewrite(agg: Aggregate): Boolean = {
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

  private def rewrite(agg: Aggregate): LogicalPlan = {
    val child = agg.child
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

    // ---- the child, read twice: per row its group key (float keys
    // normalized as GROUP BY normalizes them) and per value column (pcol,
    // v), v the value as a double
    def attr(n: String, e: Expression) = AttributeReference(n, e.dataType, e.nullable)()
    val g = keys.map(GraftSqlAccess.normalizeFloats)
    def pcol = AttributeReference("__pcol", IntegerType)()
    def v = AttributeReference("__v", DoubleType)()
    val asDouble = values.map(Cast(_, DoubleType))

    // ---- pass 1 and the main aggregates in ONE hash aggregate (Spark's
    // RewriteDistinctAggregates pattern): each row once as itself (pcol, v,
    // b NULL), read by the main aggregates, and once per value column with
    // its bucket, read by the histogram. A main aggregate that cannot ride
    // it (DISTINCT, or a buffer the hash aggregate cannot hold) runs as its
    // own aggregate, joined on the group key.
    val (riding, apart) = mains.partition(ae => !ae.isDistinct &&
      Aggregate.supportsHashAggregate(ae.aggregateFunction.aggBufferAttributes, Nil))
    val read = AttributeSet(riding.flatMap(_.references)).toSeq
    val readAs = read.map(a => AttributeReference(a.name, a.dataType)())
    val (g1, p1, v1, b1) = (keys.indices.map(i => attr(s"__pg$i", keys(i))), pcol, v,
      AttributeReference("__b", LongType)())
    val expand1 = Expand(
      (g ++ read ++ Seq(Literal(null, IntegerType), Literal(null, DoubleType),
        Literal(null, LongType))) +: asDouble.zipWithIndex.map { case (x, i) =>
        g ++ read.map(a => Literal(null, a.dataType)) ++
          Seq(Literal(i), x, ShiftRight(SortableDoubleBits(x), Literal(48)))
      }.toSeq, g1 ++ readAs ++ Seq(p1, v1, b1), child)
    val onRead = AttributeMap(read.zip(readAs))
    val ridingOut = riding.zipWithIndex.map { case (ae, j) =>
      val own = ae.transform { case a: Attribute => onRead.getOrElse(a, a) }
        .asInstanceOf[AggregateExpression]
      Alias(own.copy(filter = Some(own.filter.fold[Expression](IsNull(p1))(And(IsNull(p1), _)))),
        s"__ma$j")()
    }
    val pass1 = Aggregate(g1 ++ Seq(p1, b1), g1 ++ Seq(p1, b1,
      Alias(Count(v1).toAggregateExpression(), "__bc")(),
      Alias(Min(v1).toAggregateExpression(), "__blo")(),
      Alias(Max(v1).toAggregateExpression(), "__bhi")()) ++ ridingOut,
      Filter(Or(IsNull(p1), IsNotNull(v1)), expand1))
    val (g2, p2, v2) = (keys.indices.map(i => attr(s"__pg$i", keys(i))), pcol, v)
    val pass2 = Filter(IsNotNull(v2), Expand(asDouble.zipWithIndex.map { case (x, i) =>
      g ++ Seq(Literal(i), x) }.toSeq, g2 ++ Seq(p2, v2), child))

    val keysOut = g1.map(_.newInstance())
    val pctOut = specs.values.toSeq.map(i => AttributeReference(s"__pq$i", DoubleType)())
    val ridingAttrs = ridingOut.map(a => AttributeReference(a.name, a.dataType)())
    val node = PercentileAggregate(keysOut ++ pctOut ++ ridingAttrs, keys.size,
      specs.keys.toSeq, agg.stats.sizeInBytes, pass1, pass2)
    val apartOut = apart.zipWithIndex.map { case (ae, j) => Alias(ae, s"__mb$j")() }
    val top = if (apart.isEmpty) node else {
      val ks = keys.zipWithIndex.map { case (k, i) => Alias(k, s"__ak$i")() }
      Join(node, Aggregate(keys, ks ++ apartOut, child), LeftOuter,
        keysOut.zip(ks).map { case (a, k) => EqualNullSafe(a, k.toAttribute): Expression }
          .reduceOption(And), JoinHint.NONE)
    }
    val mainAttr = (riding.zip(ridingAttrs) ++ apart.zip(apartOut.map(_.toAttribute))).toSeq

    // ---- the original outputs, ExprIds intact
    def substitute(e: Expression): Expression = e.transformDown {
      case ae: AggregateExpression => pctIdx(ae) match {
        case Some(i) => pctOut(i)
        case None =>
          val m = mainAttr.find(_._1.semanticEquals(ae)).get._2
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
}
