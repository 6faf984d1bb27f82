package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tlc.Fixtures

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
    * exact equality (doubles compared bitwise via ==), over the corpus and
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
      // pass 1 buckets by sortable_double_bits and combines map-side: its
      // exchange moves bucket rows, never corpus rows
      val feeds = PlanAuditSpec.pass1Feeds(rewritten)
      assert(feeds.nonEmpty && feeds.forall(PlanAuditSpec.isPartialAgg),
        s"rewrite must route through QuantileRefine's histogram:\n$rewritten")
      assert(actual.length == expected.length,
        s"nonFinite=$nonFinite: row count ${actual.length} != ${expected.length}")
      actual.zip(expected).foreach { case (a, e) =>
        assert(a == e,
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
}
