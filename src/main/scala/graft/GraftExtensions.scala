package graft

import scala.reflect.{classTag, ClassTag}

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions._
import graft.plans.{PercentileAggregateStrategy, RewritePercentileAgg, RewriteTopKWindow, TopKStrategy}

/** The one table of every custom Catalyst piece in this library, and its
  * two installers, `apply` (the session extension) and `register`:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or, on a session builder (what graft.Session.local does)
  *   builder.withExtensions(new GraftExtensions)
  *   // or, for a session built elsewhere (a plain harness, a notebook)
  *   GraftExtensions.register(spark)
  * }}}
  *
  * The pieces:
  *  - planner strategies: `TopKStrategy` (the [[graft.plans.TopKPerGroup]]
  *    partial/final heap operator) and `PercentileAggregateStrategy` (the
  *    [[graft.plans.PercentileAggregate]] operator the percentile rewrite
  *    plans onto);
  *  - optimizer rules: `RewriteTopKWindow` (row_number-then-filter top-N
  *    onto TopKPerGroup) and `RewritePercentileAgg` (ascending dyadic
  *    PERCENTILE_CONT onto PercentileAggregate's two passes, bucketed
  *    with `sortable_double_bits`);
  *  - catalog functions, visible to `spark.sql`, `expr` and
  *    `DESCRIBE FUNCTION`: `cosine_sim`, `long_dot_prefix`, `jaro_winkler`,
  *    `ngrams`, `char_grams`, `sortable_double_bits`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    GraftExtensions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  type FunctionDescriptor =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  val strategies: Seq[SparkStrategy] = Seq(TopKStrategy, PercentileAggregateStrategy)

  val rules: Seq[Rule[LogicalPlan]] = Seq(RewriteTopKWindow, RewritePercentileAgg)

  val functions: Seq[FunctionDescriptor] = Seq(
    // numeric-array arguments (e.g. raw float embeddings) cast to array<double>
    function[CosineSimilarity]("cosine_sim") { e =>
      CosineSimilarity(Cast(e(0), ArrayType(DoubleType)), Cast(e(1), ArrayType(DoubleType)))
    },
    function[LongDotPrefix]("long_dot_prefix")(e => LongDotPrefix(e(0), e(1), e(2))),
    function[JaroWinklerSimilarity]("jaro_winkler")(e => JaroWinklerSimilarity(e(0), e(1))),
    function[NGramsGenerator]("ngrams") { e =>
      NGramsGenerator(e(0), NGramsGenerator.literalInt(e(1), "ngrams"))
    },
    function[CharGramsGenerator]("char_grams") { e =>
      CharGramsGenerator(e(0), NGramsGenerator.literalInt(e(1), "char_grams"))
    },
    function[SortableDoubleBits]("sortable_double_bits")(e => SortableDoubleBits(e(0))))

  private def function[T: ClassTag](name: String)(
      build: Seq[Expression] => Expression): FunctionDescriptor =
    (FunctionIdentifier(name), new ExpressionInfo(classTag[T].runtimeClass.getName, name), build)

  /** Installs every piece the session does not already have, through
    * `spark.experimental` and the session's function registry. Idempotent,
    * and a no-op on a session built with the extension. Synchronized:
    * concurrent writers of one session may reach it at the same time. */
  def register(spark: SparkSession): Unit = synchronized {
    val planned = spark.sessionState.planner.strategies
    strategies.filterNot(planned.contains)
      .foreach(s => spark.experimental.extraStrategies :+= s)
    val optimizing = spark.sessionState.optimizer.extendedOperatorOptimizationRules ++
      spark.experimental.extraOptimizations
    rules.filterNot(optimizing.contains)
      .foreach(r => spark.experimental.extraOptimizations :+= r)
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) =>
      if (!registry.lookupFunction(id).exists(_.getClassName == info.getClassName))
        registry.registerFunction(id, info, build)
    }
  }
}
