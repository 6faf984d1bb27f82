package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.tlc.Fixtures

/** GraftExtensions is the one table of graft Catalyst pieces. A session
  * built by Session.local gets every piece without any register() call,
  * and GraftExtensions.register gives a plain session the same pieces,
  * once. */
class GraftExtensionsSpec extends AnyFunSuite {

  // Extensions are fixed when a session is built, and this JVM already
  // holds a SparkContext and a default session: clear both session slots
  // so `build` makes a fresh session on the same context, then restore.
  private def withFreshSession(build: => SparkSession)(f: SparkSession => Unit): Unit = {
    val orig = Fixtures.sparkSession() // ensures a context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = build
      assert(s2 ne orig, "extensions require a fresh session")
      f(s2)
    } finally {
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }

  private def withExtendedSession(f: SparkSession => Unit): Unit =
    withFreshSession(Session.local("graft-extensions-spec"))(f)

  private def withPlainSession(f: SparkSession => Unit): Unit =
    withFreshSession(SparkSession.builder().master("local[4]").getOrCreate())(f)

  /** The graft pieces a session plans and optimizes with, as names. */
  private def installed(s: SparkSession): (Set[String], Set[String], Set[String]) = {
    val registry = s.sessionState.functionRegistry
    val functions = GraftExtensions.functions.collect {
      case (id, info, _) if registry.lookupFunction(id).exists(_.getClassName == info.getClassName) =>
        id.funcName
    }
    val strategies = s.sessionState.planner.strategies
      .filter(GraftExtensions.strategies.contains).map(_.getClass.getName)
    val rules = s.sessionState.optimizer.batches.flatMap(_.rules)
      .filter(GraftExtensions.rules.contains).map(_.ruleName)
    (functions.toSet, strategies.toSet, rules.toSet)
  }

  private val allPieces = (
    Set("cosine_sim", "long_dot_prefix", "jaro_winkler", "ngrams", "char_grams",
      "sortable_double_bits"),
    Set("graft.plans.TopKStrategy$", "graft.plans.PercentileAggregateStrategy$"),
    Set("graft.plans.RewriteTopKWindow", "graft.plans.RewritePercentileAgg"))

  test("cosine_sim resolves from the catalog registry (no register() call)") {
    withExtendedSession { s =>
      val r = s.sql(
        "SELECT cosine_sim(array(1.0D, 0.0D, 1.0D), array(1.0D, 0.0D, 1.0D)) AS c")
        .first().getDouble(0)
      assert(math.abs(r - 1.0) < 1e-12)
      val orth = s.sql(
        "SELECT cosine_sim(array(1.0D, 0.0D), array(0.0D, 2.0D)) AS c")
        .first().getDouble(0)
      assert(math.abs(orth) < 1e-12)
    }
  }

  test("all six functions resolve through spark.sql in a Session.local session") {
    withExtendedSession { s =>
      assert(s.sql("SELECT long_dot_prefix(array(1L, 2L, 3L), array(4L, 5L, 6L), 2)")
        .first().getLong(0) == 14L)
      assert(math.abs(s.sql("SELECT jaro_winkler('martha', 'marhta')").first().getDouble(0)
        - 0.9611111111111111) < 1e-15)
      assert(s.sql("SELECT sortable_double_bits(1.5D)").first().getLong(0) ==
        functions.SortableDoubleBits.sortable(1.5))
      val ngrams = s.sql("SELECT g FROM (SELECT array('a', 'b', 'c') AS ts) " +
        "LATERAL VIEW ngrams(ts, 2) t AS g").collect().map(_.getString(0)).toSeq
      assert(ngrams.sorted == Seq("a b", "b c"))
      val grams = s.sql("SELECT g FROM (SELECT 'abcd' AS txt) " +
        "LATERAL VIEW char_grams(txt, 3) t AS g").collect().map(_.getString(0)).toSeq
      assert(grams.sorted == Seq("abc", "bcd"))
      assert(s.sql("SELECT cosine_sim(array(1.0D), array(2.0D))").first().getDouble(0) == 1.0)
      assert(installed(s) == allPieces)
    }
  }

  test("row_number top-N idiom rewrites to TopKPerGroup via injected rule") {
    withExtendedSession { s =>
      import s.implicits._
      val df = Seq((1, 10.0), (1, 20.0), (1, 30.0), (2, 5.0), (2, 15.0))
        .toDF("k", "v")
      df.createOrReplaceTempView("ext_t")
      val q = s.sql(
        """SELECT k, v FROM (
          |  SELECT k, v, ROW_NUMBER() OVER (PARTITION BY k ORDER BY v DESC) AS rn
          |  FROM ext_t) WHERE rn <= 2""".stripMargin)
      assert(q.queryExecution.executedPlan.toString.contains("TopKPerGroup"),
        q.queryExecution.executedPlan.toString)
      assert(q.collect().map(r => (r.getInt(0), r.getDouble(1))).toSet ==
        Set((1, 30.0), (1, 20.0), (2, 15.0), (2, 5.0)))
    }
  }

  test("register gives a plain session the pieces of the extension path") {
    withPlainSession { s =>
      assert(installed(s) == ((Set.empty[String], Set.empty[String], Set.empty[String])))
      GraftExtensions.register(s)
      assert(installed(s) == allPieces)
      assert(s.sql("SELECT jaro_winkler('martha', 'marhta')").first().getDouble(0) > 0.96)
    }
  }

  test("register adds nothing on a second call, nor to an extension session") {
    def snapshot(s: SparkSession) = (s.experimental.extraStrategies,
      s.experimental.extraOptimizations,
      s.sessionState.functionRegistry.listFunction().toSet,
      GraftExtensions.functions.map { case (id, _, _) =>
        s.sessionState.functionRegistry.lookupFunction(id) })
    withPlainSession { s =>
      GraftExtensions.register(s)
      val once = snapshot(s)
      GraftExtensions.register(s)
      assert(snapshot(s) == once)
      assert(s.experimental.extraStrategies.size == 2 &&
        s.experimental.extraOptimizations.size == 2)
    }
    withExtendedSession { s =>
      val built = snapshot(s)
      GraftExtensions.register(s)
      assert(snapshot(s) == built)
      assert(s.experimental.extraStrategies.isEmpty &&
        s.experimental.extraOptimizations.isEmpty)
    }
  }

  test("the TLC library installs the percentile rule in a plain session itself") {
    withPlainSession { s =>
      val r = graft.tlc.Pipeline.run(s,
        Fixtures.yellow(s), Fixtures.green(s), Fixtures.hvfhv(s), Fixtures.zones(s))
      for ((name, df) <- Seq(
          "agg_pricing_by_zone_hour" -> r.aggregates("agg_pricing_by_zone_hour"),
          "04_hvfhv_platform_economics" -> r.analytics("04_hvfhv_platform_economics")())) {
        val p = df.queryExecution.executedPlan.toString
        assert(!p.contains("percentile(") && p.contains("sortable_double_bits"),
          s"$name must plan its percentiles through RewritePercentileAgg:\n$p")
      }
    }
  }

  test("SPARK_GRAFT_CONF parsing: pairs in order, '=' kept in values") {
    assert(Session.parseConf("a.b=1;x=k=v;no-equals;;c=") ==
      Seq("a.b" -> "1", "x" -> "k=v", "c" -> ""))
    assert(Session.parseConf(
      "spark.sql.optimizer.excludedRules=graft.plans.RewriteTopKWindow") ==
      Seq("spark.sql.optimizer.excludedRules" -> "graft.plans.RewriteTopKWindow"))
    assert(Session.parseConf("").isEmpty)
  }
}
