package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.{Column, GraftSqlAccess, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Percentile, PercentileCont => PercentileContCall}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.DoubleType

import graft.operators.PercentileCont

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
  * Values are BIT-IDENTICAL, not approximately equal: the rewrite routes
  * onto `PercentileCont.group`, whose scaladoc + PercentileContSpec pin
  * bit-parity with the builtin (same element selection, same interpolation
  * expression tree, same short-circuits, same NULL semantics, NULL group
  * keys included) for every dyadic fraction
  * p = num / 2^k. Non-dyadic fractions, descending order, DISTINCT, FILTER
  * clauses and explicit frequency ≠ 1 are NOT rewritten — the builtin
  * stays, correctness over posture.
  *
  * Shape: `Aggregate(G, aggs, child)` where some aggs contain rewritable
  * percentile calls becomes
  *
  * {{{
  *   Project(aggs with percentiles substituted,          — original names
  *     Join(left,                                        — and ExprIds
  *       Aggregate(G, non-percentile aggs + keys, child),
  *       PercentileCont.group(child projected to keys + values),
  *       keys null-safe-equal))                          — NULL groups kept
  * }}}
  *
  * A global aggregate (no GROUP BY) joins on TRUE against the one-row
  * percentile frame, so the one-row-on-empty-input contract survives.
  * The replacement subtree is built with the ordinary Dataset API and
  * spliced back as its OPTIMIZED plan (registered through
  * `spark.experimental` the rule runs in the User Provided Optimizers
  * batch, after every other batch, so an unoptimized splice would scan
  * every column). Any analysis failure inside the
  * reconstruction falls back to the original aggregate: the rule can only
  * ever trade the builtin for the proven-equal plan, never fail a query.
  *
  * `manyGroups` (QuantileRefine's scale mode): group counts that grow with
  * the data span (zone × hour, year × month × company — ≥ 3 grouping
  * columns) exchange the bucket table on the group key; small fixed key
  * sets keep the single-partition state plan.
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
    else contCall(ae.aggregateFunction)

  private def isPercentileFamily(ae: AggregateExpression): Boolean =
    ae.aggregateFunction.isInstanceOf[Percentile] ||
      ae.aggregateFunction.isInstanceOf[PercentileContCall]

  /** Fire only when every percentile call in the aggregate is rewritable —
    * a half-rewritten aggregate would still carry the single-task merge,
    * paying both plans for nothing — and when the aggregate and everything
    * under it is deterministic: the rewrite evaluates the child twice (main
    * aggregate and QuantileRefine side), and with rand()/uuid() in it the
    * two evaluations would see different rows, where the builtin sees one. */
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
        try rewrite(spark, agg)
        catch {
          case e: Exception =>
            logWarning(s"percentile rewrite fell back to the builtin: $e")
            agg
        }
    }
  }

  private def rewrite(spark: SparkSession, agg: Aggregate): LogicalPlan = {
    val child = agg.child

    // ---- collect distinct value expressions and (value, num, den) specs
    val valueExprs = mutable.ArrayBuffer.empty[Expression]
    def valueIdx(e: Expression): Int = {
      val i = valueExprs.indexWhere(_.semanticEquals(e))
      if (i >= 0) i else { valueExprs += e; valueExprs.size - 1 }
    }
    val specKeys = mutable.LinkedHashMap.empty[(Int, Int, Int), String]
    agg.aggregateExpressions.foreach(_.foreach {
      case ae: AggregateExpression => pctOf(ae).foreach { case (v, n, d) =>
        specKeys.getOrElseUpdate((valueIdx(v), n, d), s"__pq${specKeys.size}")
      }
      case _ => ()
    })

    // ---- percentile side: project keys + values, one PercentileCont batch.
    // A NULL group key must survive the equi-joins inside QuantileRefine
    // and the reattachment join below: the builtin computes real
    // percentiles for a NULL group, and a bare equality join would silently
    // return NULL for it (the PercentileCont.group NULL-key contract,
    // handled here at the caller). A nullable key therefore travels as two
    // NULL-free columns, coalesce(k, default) and isnull(k), which group
    // and equi-join exactly like k under <=>. They stay plain columns: a
    // struct-wrapped key is built and hashed per corpus row in pass 1.
    val nullable = agg.groupingExpressions.map(_.nullable)
    def nullFree(keys: Seq[Expression]): Seq[Expression] =
      keys.zip(nullable).flatMap { case (k, n) =>
        if (n) Seq(Coalesce(Seq(k, Literal.default(k.dataType))), IsNull(k)) else Seq(k)
      }
    val keyParts = nullFree(agg.groupingExpressions)
    val gNames = keyParts.indices.map(i => s"__pg$i")
    val childDf = GraftSqlAccess.ofRows(spark, child)
    val prepCols: Seq[Column] =
      keyParts.zip(gNames).map { case (k, n) => GraftSqlAccess.column(Alias(k, n)()) } ++
      valueExprs.zip(valueExprs.indices.map(i => s"__pv$i")).map { case (v, n) =>
        GraftSqlAccess.column(Alias(v, n)()) }
    val prep0 = childDf.select(prepCols: _*)
    val (prep, pctGroups) =
      if (gNames.isEmpty) (prep0.withColumn("__pg0", lit(1)), Seq("__pg0"))
      else (prep0, gNames)
    val specs = specKeys.toSeq.map { case ((vi, n, d), out) =>
      PercentileCont.Spec(out, s"__pv$vi", n, d) }
    val manyGroups = agg.groupingExpressions.size >= 3
    val pct = PercentileCont.group(prep, pctGroups, specs, manyGroups = manyGroups)

    // ---- main aggregate: original non-percentile entries, ExprIds intact
    val keep = mutable.ArrayBuffer.empty[NamedExpression]
    val extraAggs = mutable.ArrayBuffer.empty[NamedExpression]

    // join keys: reuse an output that IS the grouping expr, else add one
    val groupKeyAttrs: Seq[Attribute] = agg.groupingExpressions.map { g =>
      agg.aggregateExpressions.collectFirst {
        case a: Attribute if a.semanticEquals(g) => a
        case al @ Alias(c, _) if c.semanticEquals(g) => al.toAttribute
      }.getOrElse {
        g match {
          case a: Attribute => extraAggs += a; a
          case other =>
            val al = Alias(other, s"__mg${extraAggs.size}")()
            extraAggs += al
            al.toAttribute
        }
      }
    }

    def substitute(e: Expression): Expression = e.transformUp {
      case ae: AggregateExpression =>
        pctOf(ae) match {
          case Some((v, n, d)) =>
            UnresolvedAttribute.quoted(specKeys((valueIdx(v), n, d)))
          case None =>
            val al = Alias(ae, s"__ma${extraAggs.size}")()
            extraAggs += al
            al.toAttribute
        }
    }

    val finalCols: Seq[Column] = agg.aggregateExpressions.map { ne =>
      val hasPct = ne.exists {
        case ae: AggregateExpression => pctOf(ae).isDefined
        case _ => false
      }
      if (!hasPct) {
        keep += ne
        GraftSqlAccess.column(ne.toAttribute)
      } else ne match {
        case al @ Alias(c, name) =>
          GraftSqlAccess.column(Alias(substitute(c), name)(
            exprId = al.exprId, qualifier = al.qualifier,
            explicitMetadata = al.explicitMetadata))
        case other =>
          // a NamedExpression that is itself an aggregate call without an
          // Alias cannot occur in a resolved Aggregate; bail via exception
          // to the fallback
          throw new IllegalStateException(s"unexpected aggregate entry $other")
      }
    }

    val mainDf =
      if (agg.groupingExpressions.isEmpty && keep.isEmpty && extraAggs.isEmpty)
        // all-percentile GLOBAL aggregate (q14's quartile CTE shape): the
        // main side exists only to supply the one-row-even-on-empty-input
        // contract — a global Aggregate over the child would re-evaluate
        // the whole corpus-side subtree to produce a constant row (one
        // full extra pass measured on tlc_sql_q14). A 1-row range supplies
        // the row for free; the left join still yields NULL percentiles
        // when the pct side is empty.
        spark.range(1).toDF()
      else GraftSqlAccess.ofRows(spark,
        Aggregate(agg.groupingExpressions, (keep ++ extraAggs).toSeq, child))
    val cond: Column =
      if (groupKeyAttrs.isEmpty) GraftSqlAccess.column(Literal(true))
      else GraftSqlAccess.column(
        nullFree(groupKeyAttrs).zip(pctGroups).map { case (l, r) =>
          EqualTo(l, UnresolvedAttribute.quoted(r)): Expression
        }.reduce(And))
    val out = mainDf.join(pct, cond, "left").select(finalCols: _*)

    // splice back fully optimized (the experimental batch runs after the
    // main ones) and verify the contract the parent operators rely on:
    // same output ids, names and types, same order
    val newPlan = GraftSqlAccess.optimizedPlan(out)
    require(newPlan.output.size == agg.output.size &&
      newPlan.output.zip(agg.output).forall { case (a, b) =>
        a.exprId == b.exprId && a.name == b.name && a.dataType == b.dataType
      }, "percentile rewrite changed the aggregate's output contract")
    newPlan
  }
}
