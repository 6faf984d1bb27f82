package graft

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.QuantileRefine
import graft.tlc.{Fixtures, SqlRunner}

/** RewritePercentileAgg (r14 verdict item 3): PERCENTILE_CONT SQL must plan
  * onto PercentileCont's mergeable reconstruction with BIT-IDENTICAL
  * results, and must refuse shapes outside the proven-equal envelope.
  *
  * Every equality below is `==` on raw doubles against the builtin run with
  * the rule disabled — the same parity PercentileContSpec pins for the
  * DataFrame entry point, here checked through the full
  * optimizer-rule + splice path (ExprId preservation, join reattachment,
  * global aggregates, expression contexts around the percentile call).
  */
class RewritePercentileAggSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = Fixtures.sparkSession()

  /** 1000 rows, 3 groups, nulls, a NULL group key, ties and near-unique
    * doubles — the distribution classes PercentileContSpec exercises.
    * `nonFinite` adds NaN, +Inf and −Inf to both value columns. */
  private def corpus(nonFinite: Boolean = false): DataFrame = {
    val special = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val rows = (1 to 1000).map { i =>
      val g = if (i % 7 == 0) null else s"g${i % 3}"
      val v: java.lang.Double =
        if (i % 11 == 0) null
        else if (nonFinite && i % 19 == 0) special(i % 3)
        else if (i % 5 == 0) 1.25 // tie mass
        else i * 0.37 + (i % 13) * 1e-3
      val w: java.lang.Double =
        if (i % 17 == 0) null
        else if (nonFinite && i % 23 == 0) special(i % 3)
        else (i % 29) + 0.5
      Row(i.toLong, g, v, w)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 7),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("g",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.DoubleType, nullable = true),
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.DoubleType, nullable = true))))
  }

  /** Run `sql` twice — rule on vs off — and compare collected rows with
    * exact equality (doubles compared by their bits), over the corpus and
    * over the corpus with NaN/±Inf values. */
  private def checkBitIdentical(sql: String): Unit =
    for (nonFinite <- Seq(false, true)) {
      corpus(nonFinite).createOrReplaceTempView("t")
      spark.conf.set("spark.graft.sqlPercentileRewrite", "false")
      val expected = spark.sql(sql).collect()
      val builtinPlan = spark.sql(sql).queryExecution.executedPlan.toString
      assert(builtinPlan.contains("percentile("),
        s"control run must plan the builtin:\n$builtinPlan")
      spark.conf.set("spark.graft.sqlPercentileRewrite", "true")
      val actual = spark.sql(sql).collect()
      val rewritten = spark.sql(sql).queryExecution.executedPlan
      assert(!rewritten.toString.contains("percentile("),
        s"rewrite did not fire:\n$rewritten")
      // the values are keyed by sortable_double_bits and combined
      // map-side: the exchange moves distinct values, never corpus rows
      val feeds = PlanAuditSpec.pass1Feeds(rewritten)
      assert(feeds.nonEmpty && feeds.forall(PlanAuditSpec.isPartialAgg),
        s"rewrite must route through QuantileRefine's histogram:\n$rewritten")
      assert(actual.length == expected.length,
        s"nonFinite=$nonFinite: row count ${actual.length} != ${expected.length}")
      actual.zip(expected).foreach { case (a, e) =>
        assert(RewritePercentileAggSpec.sameRow(a, e),
          s"nonFinite=$nonFinite row mismatch:\n  rewrite: $a\n  builtin: $e")
      }
    }

  test("grouped percentile mixed with other aggregates, inside arithmetic " +
    "— bit-identical, NULL group key kept (null-safe join)") {
    checkBitIdentical("""
      SELECT g,
             COUNT(*) AS n,
             AVG(v) AS avg_v,
             PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY v) * 100 AS p25,
             PERCENTILE_CONT(0.5)  WITHIN GROUP (ORDER BY v) AS med,
             (PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY v)
              - PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY v)) AS iqr
      FROM t GROUP BY g ORDER BY g NULLS FIRST""")
  }

  test("global aggregate (no GROUP BY), percentile over an expression") {
    checkBitIdentical("""
      SELECT PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY v + w) AS q25,
             PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY v + w) AS q75,
             COUNT(*) AS n
      FROM t""")
  }

  test("non-attribute grouping expression and conditional CASE value " +
    "(q11/q12's shapes)") {
    checkBitIdentical("""
      SELECT CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS par,
             PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY
               CASE WHEN w > 10 THEN v END) AS med_heavy,
             COUNT(CASE WHEN w > 10 THEN 1 END) AS n_heavy
      FROM t
      GROUP BY CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END
      ORDER BY par""")
  }

  test("group with only NULL values comes back NULL (left-join contract)") {
    checkBitIdentical("""
      SELECT g, PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY
               CASE WHEN id < 0 THEN v END) AS med_none
      FROM t GROUP BY g ORDER BY g NULLS FIRST""")
  }

  test("outside the envelope: non-dyadic fraction and DESC order keep the " +
    "builtin (no silent approximation)") {
    corpus().createOrReplaceTempView("t")
    spark.conf.set("spark.graft.sqlPercentileRewrite", "true")
    for (sql <- Seq(
      "SELECT PERCENTILE_CONT(0.3) WITHIN GROUP (ORDER BY v) AS p FROM t",
      "SELECT PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY v DESC) AS p FROM t")) {
      val p = spark.sql(sql).queryExecution.executedPlan.toString
      assert(p.contains("percentile("),
        s"non-rewritable shape must keep the builtin:\n$p")
    }
  }

  test("a non-deterministic child keeps the builtin: the rewrite would " +
    "evaluate it twice and join two different row sets") {
    corpus().createOrReplaceTempView("t")
    spark.conf.set("spark.graft.sqlPercentileRewrite", "true")
    for (sql <- Seq(
      """SELECT g, PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY r) AS p
         FROM (SELECT g, v * rand(7) AS r FROM t) GROUP BY g""",
      """SELECT PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY v) AS p
         FROM t WHERE rand(7) < 0.5""")) {
      val p = spark.sql(sql).queryExecution.executedPlan.toString
      assert(p.contains("percentile("),
        s"non-deterministic child must keep the builtin:\n$p")
    }
  }

  test("empty input: global aggregate still returns its one row") {
    corpus().filter(col("id") < 0).createOrReplaceTempView("t_empty")
    spark.conf.set("spark.graft.sqlPercentileRewrite", "true")
    val r = spark.sql(
      """SELECT PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY v) AS med,
                COUNT(*) AS n FROM t_empty""").collect()
    assert(r.length == 1 && r(0).isNullAt(0) && r(0).getLong(1) == 0L)
  }

  /** The scaled fixture warehouse's q04 tables as parquet, the layout the
    * Cli writes and SqlRunner.registerWarehouse reads back. */
  private def withWarehouse[T](body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_q04").toFile
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete()
    }
    try {
      val t = TlcScaledDemo.tables(spark)
      t.fact.write.parquet(s"$dir/fact_trips")
      t.dimHvfhsCompany.write.parquet(s"$dir/dim_hvfhs_company")
      body(dir.getPath)
    } finally rm(dir)
  }

  /** q04's final executed plan, the jobs its collect() ran and their call
    * sites. */
  private def q04(warehouse: String, rewrite: Boolean): (SparkPlan, Int, Seq[String]) = {
    SqlRunner.registerWarehouse(spark, warehouse)
    spark.conf.set("spark.graft.sqlPercentileRewrite", rewrite.toString)
    val df = SqlRunner.runFile(spark, "sql/analytics/04_hvfhv_platform_economics.sql")
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites.add(e.stageInfos.map(s => s"${s.name}\n${s.details}").mkString("\n"))
    }
    ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      df.collect()
      ListenerBusAccess.drain(spark.sparkContext)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.graft.sqlPercentileRewrite", "true")
    }
    val jobs = sites.toArray(Array.empty[String]).toSeq
    (df.queryExecution.executedPlan, jobs.size, jobs)
  }

  /** Operators of a final adaptive plan, into query stages and cached
    * relations, not into a reused exchange (it runs once, elsewhere). */
  private def ran(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => ran(a.executedPlan)
    case s: QueryStageExec => s +: ran(s.plan)
    case m: InMemoryTableScanExec => m +: ran(m.relation.cachedPlan)
    case _ => p +: p.children.flatMap(ran)
  }

  test("q04's plan cost: the fact is read once, nothing is cached, the " +
    "builtin's shuffles, and at most 1 job beyond the builtin's") {
    val ((on, jobsOn, sitesOn), (off, jobsOff, _)) = withWarehouse { wh =>
      (q04(wh, rewrite = true), q04(wh, rewrite = false))
    }
    val ops = ran(on)
    val factScans = ops.collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths.exists(
        _.toString.contains("fact_trips")) => f
    }
    assert(factScans.size == 1, s"the fact must be scanned exactly once:\n$on")
    assert(!ops.exists(_.isInstanceOf[InMemoryTableScanExec]),
      s"the rewrite must cache nothing:\n$on")
    def shuffles(ops: Seq[SparkPlan]) = ops.count(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles(ops) == shuffles(ran(off)),
      s"the rewrite must shuffle as often as the builtin:\n$on\n$off")
    assert(jobsOn <= jobsOff + 1, s"$jobsOn jobs with the rewrite, $jobsOff without")
    assert(!sitesOn.exists(_.contains("PercentileAggregate")),
      s"the operator must start no job of its own:\n${sitesOn.mkString("\n")}")
  }

  /** A fixed-seed table: (g string, h int, w int, x double, y double,
    * d decimal(12,2)); keys and values NULL at times, `c` a rare (often
    * single-row) group, x and y drawn with −0.0/0.0, NaN, ±Inf and heavy
    * ties. `skew` draws 95 of every 100 rows into group `a`. */
  private def generated(n: Int, seed: Long, skew: Boolean = false): DataFrame = {
    def value(tie: Double): Gen[java.lang.Double] = Gen.frequency(
      1 -> Gen.const(null), 1 -> Gen.const(-0.0), 1 -> Gen.const(0.0),
      1 -> Gen.const(Double.NaN), 1 -> Gen.const(Double.PositiveInfinity),
      1 -> Gen.const(Double.NegativeInfinity), 4 -> Gen.const(tie),
      6 -> Gen.choose(-1e3, 1e3).map(Double.box),
      3 -> Gen.choose(-5, 5).map(i => Double.box(i.toDouble)))
    val row = for {
      g <- if (skew) Gen.frequency(1 -> Gen.const(null), 95 -> Gen.const("a"),
          3 -> Gen.const("b"), 1 -> Gen.const("c"))
        else Gen.frequency(1 -> Gen.const(null), 4 -> Gen.const("a"),
          3 -> Gen.const("b"), 1 -> Gen.const("c"))
      h <- Gen.frequency(1 -> Gen.const(null), 4 -> Gen.choose(0, 2).map(Int.box))
      w <- Gen.choose(0, 9)
      x <- value(1.25)
      y <- value(-3.0)
      d <- Gen.frequency(1 -> Gen.const(null),
        4 -> Gen.choose(-100000L, 100000L).map(c => java.math.BigDecimal.valueOf(c, 2)))
    } yield Row(g, h, w, x, y, d)
    val rows = Gen.listOfN(n, row).pureApply(Gen.Parameters.default, Seed(seed))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), StructType(Seq(
      StructField("g", StringType), StructField("h", IntegerType),
      StructField("w", IntegerType, nullable = false), StructField("x", DoubleType),
      StructField("y", DoubleType), StructField("d", DecimalType(12, 2)))))
  }

  test("generated tables: every plan shape stays bit-identical to the builtin") {
    val queries = Seq(
      // main aggregates that ride the one aggregate, two value columns
      """SELECT g, COUNT(*) AS n, COUNT(x) AS nx, AVG(x) AS ax, SUM(y) AS sy,
                AVG(d) AS ad, SUM(d) AS sd, MIN(x) AS mn, MAX(d) AS mx,
                PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY x) AS p50,
                PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY y) AS q1
         FROM t GROUP BY g ORDER BY g NULLS FIRST""",
      // DISTINCT runs beside the aggregate (the congestion shape); FILTER rides it
      """SELECT g, h, COUNT(DISTINCT w) AS dw, COUNT(*) FILTER (WHERE x > 0) AS pos,
                SUM(d) FILTER (WHERE y IS NULL) AS sdy,
                PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY x) AS p75
         FROM t GROUP BY g, h ORDER BY g NULLS FIRST, h NULLS FIRST""",
      // HAVING over a percentile; an all-NULL value group
      """SELECT g, PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY
                  CASE WHEN g = 'b' THEN NULL ELSE y END) AS m
         FROM t GROUP BY g
         HAVING PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY x) > 0 OR COUNT(*) < 3
         ORDER BY g NULLS FIRST""",
      // three grouping columns, one of them an expression
      """SELECT g, h, w % 2 AS odd, COUNT(y) AS ny,
                PERCENTILE_CONT(0.125) WITHIN GROUP (ORDER BY y) AS p
         FROM t GROUP BY g, h, w % 2
         ORDER BY g NULLS FIRST, h NULLS FIRST, odd""",
      // global aggregates, with and without main aggregates
      """SELECT COUNT(*) AS n, SUM(d) AS sd, COUNT(DISTINCT g) AS dg,
                PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY x) AS p50,
                PERCENTILE_CONT(0.875) WITHIN GROUP (ORDER BY y) AS p875
         FROM t""",
      """SELECT PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY x + y) AS q1 FROM t""")
    // five sizes; a 5,000-row table whose group "a" holds >= 90% of the
    // rows; the same table with every hash aggregate, the final one
    // included, spilling to its sort fallback every 500 keys
    val skewed = generated(5000, 6L, skew = true)
    assert(skewed.filter(col("g") === "a").count() >= 4500)
    val inputs = Seq(0 -> 1L, 1 -> 2L, 9 -> 3L, 80 -> 4L, 600 -> 5L).map { case (n, seed) =>
      (s"n=$n seed=$seed", generated(n, seed), None) } ++ Seq(
      ("skewed n=5000", skewed, None),
      ("skewed n=5000, sort fallback", skewed,
        Some("spark.sql.TungstenAggregate.testFallbackStartsAt" -> "250, 500")))
    for ((input, table, conf) <- inputs) {
      table.createOrReplaceTempView("t")
      def under[T](body: => T): T = conf.fold(body)(kv => Fixtures.withConf(spark, kv)(body))
      for (sql <- queries) {
        val expected = under(Fixtures.withConf(spark, Fixtures.builtinPercentile) {
          spark.sql(sql).collect().toSeq
        })
        val (plan, actual) = under {
          val df = spark.sql(sql)
          (df.queryExecution.executedPlan.toString, df.collect().toSeq)
        }
        assert(!plan.contains("percentile("), s"rewrite did not fire:\n$sql")
        assert(actual.size == expected.size && actual.zip(expected).forall {
            case (a, e) => RewritePercentileAggSpec.sameRow(a, e) },
          s"$input\n$sql\n  rewrite: $actual\n  builtin: $expected")
      }
    }

    // weighted ranks: QuantileRefine.atRankExprs over (g, x, weight w)
    // against percentile_disc over each row repeated w times, equal as SQL
    // compares doubles (the builtin ties -0.0 with 0.0)
    generated(2000, 8L).createOrReplaceTempView("t")
    val disc = Seq("p25" -> (0.25, "(n + 3) DIV 4"), "p50" -> (0.5, "(n + 1) DIV 2"),
      "p75" -> (0.75, "(3 * n + 3) DIV 4"))
    val got = QuantileRefine.atRankExprs(
        spark.table("t").select(col("g"), col("x").as("v"), col("w").as("c")), Seq("g"),
        disc.map { case (rid, (_, rank)) => rid -> rank })
      .collect().map(r => (Option(r.getString(0)), r.getString(1)) -> r.getDouble(2)).toMap
    val want = spark.sql(s"""SELECT g, ${disc.map { case (rid, (p, _)) =>
        s"percentile_disc($p) WITHIN GROUP (ORDER BY v) AS $rid" }.mkString(", ")}
        FROM (SELECT g, explode(array_repeat(x, w)) AS v FROM t) GROUP BY g""")
      .collect().flatMap(r => disc.indices.filterNot(i => r.isNullAt(i + 1))
        .map(i => (Option(r.getString(0)), disc(i)._1) -> r.getDouble(i + 1))).toMap
    assert(want.nonEmpty && got.keySet == want.keySet && got.forall { case (key, v) =>
      SQLOrderingUtil.compareDoubles(v, want(key)) == 0 }, s"$got\n  vs $want")
  }

  /** The tasks `body` runs and its result. */
  private def tasksOf[T](body: => T): (T, Int) = {
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onTaskStart(e: SparkListenerTaskStart): Unit = tasks.incrementAndGet()
    }
    ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      ListenerBusAccess.drain(spark.sparkContext)
      (r, tasks.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("task counts follow the data, not spark.sql.shuffle.partitions") {
    // 2 groups x 2,520 rows: the one exchange and the operator's reads of
    // it must shrink with the data as the builtin's do
    spark.range(0, 5040, 1, 4)
      .select((col("id") % 2).as("g"), (col("id") * 0.37 + col("id") % 13).as("v"))
      .createOrReplaceTempView("t_tasks")
    val sql = """SELECT g, COUNT(*) AS n,
                        PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY v) AS p25,
                        PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY v) AS p50
                 FROM t_tasks GROUP BY g"""
    def sorted(rows: Array[Row]) = rows.toSeq.sortBy(_.getLong(0))
    Fixtures.withConf(spark, "spark.sql.shuffle.partitions" -> "200") {
      val expected = Fixtures.withConf(spark, Fixtures.builtinPercentile) {
        sorted(spark.sql(sql).collect())
      }
      val df = spark.sql(sql)
      df.collect() // warm: the count below is the steady state
      val (actual, tasks) = tasksOf(sorted(spark.sql(sql).collect()))
      assert(!df.queryExecution.executedPlan.toString.contains("percentile("))
      assert(tasks <= 29, s"$tasks tasks at 200 shuffle partitions")
      assert(actual.size == 2 && actual.zip(expected).forall {
          case (a, e) => RewritePercentileAggSpec.sameRow(a, e) },
        s"rewrite: $actual\n  builtin: $expected")
    }
  }
}

object RewritePercentileAggSpec {

  /** Row equality with doubles compared by bits: −0.0 and 0.0 differ, and
    * NaN matches NaN (doubleToLongBits canonicalizes it); `==` otherwise. */
  def sameRow(a: Row, e: Row): Boolean =
    a.length == e.length && (0 until a.length).forall { i =>
      (a.get(i), e.get(i)) match {
        case (x: Double, y: Double) =>
          java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
        case (x, y) => x == y
      }
    }
}
