package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SortableDoubleBits
import graft.operators.QuantileRefine
import graft.tlc.Fixtures

/** QuantileRefine must agree with Spark's own ordered-set aggregates on
  * every rank mapping the a18/w12/a26 gates rely on — across ties, skew,
  * negatives and point masses. */
class QuantileRefineSpec extends AnyFunSuite {
  lazy val spark = Fixtures.sparkSession()
  import spark.implicits._

  /** Deterministic messy data: 6 groups of very different sizes (1, 2, 40,
    * 41, 500, 1000 rows), heavy ties, negative values, one point-mass group
    * and one 90%-zero-inflated group (g6 — the tips=0.0 shape from the r13
    * verdict: the located bucket degenerates to lo==hi and must
    * short-circuit instead of funneling the tie mass into a pass-2 sort). */
  private lazy val data = {
    val rows =
      Seq(("g1", 7.25)) ++
        Seq(("g2", -3.0), ("g2", 12.5)) ++
        (1 to 40).map(i => ("g3", ((i * 7919) % 13).toDouble - 6.0)) ++
        (1 to 41).map(i => ("g4", math.pow(1.5, i % 17) * (if (i % 3 == 0) -1 else 1))) ++
        (1 to 500).map(_ => ("g5", 42.0)) ++ // point mass
        (1 to 1000).map(i => ("g6", if (i % 10 == 0) i.toDouble / 16 else 0.0))
    rows.toDF("grp", "v").withColumn("c", lit(1L))
  }

  /** [[data]] plus ±0.0, NaN and ±Inf groups whose ranks land on them. */
  private lazy val nonFinite = {
    val (nan, inf) = (Double.NaN, Double.PositiveInfinity)
    data.unionByName((Seq(-0.0, 0.0, -0.0, 0.0, 1.0, -1.0, 0.0).map("gz" -> _) ++
      Seq(nan, inf, -inf, 1.0, nan, inf, 2.0, -inf).map("gi" -> _) ++
      Seq(nan, nan, 5.0).map("gn" -> _)).toDF("grp", "v").withColumn("c", lit(1L)))
  }

  private def builtin(q: Double, data: DataFrame = data): Map[String, Double] = {
    data.createOrReplaceTempView("qr_data")
    spark.sql(
      s"""SELECT grp, percentile_disc($q) WITHIN GROUP (ORDER BY v) AS p
         |FROM qr_data GROUP BY grp""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  /** ceil(q·n) as an integer rank expression for the q values under test. */
  private val rankExprOf = Map(
    0.25 -> "(n + 3) DIV 4", 0.5 -> "(n + 1) DIV 2", 0.75 -> "(3 * n + 3) DIV 4")

  // "rounds=0": the two-pass plan, with no refinement round between them
  for (q <- Seq(0.25, 0.5, 0.75)) {
    test(s"matches percentile_disc($q) on messy groups (rounds=0)") {
      val expected = builtin(q)
      def disc(in: DataFrame) = QuantileRefine.atRankExprs(in, Seq("grp"),
        Seq("p" -> rankExprOf(q))).collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      val got = disc(data)
      assert(got == expected)
      // equal as SQL compares them: NaN equals NaN and sorts above +Inf;
      // -0.0 equals 0.0 (the builtin ties them, the histogram puts -0.0 first)
      val (want, have) = (builtin(q, nonFinite), disc(nonFinite))
      assert(have.keySet == want.keySet && have.forall { case (g, v) =>
        SQLOrderingUtil.compareDoubles(v, want(g)) == 0 }, s"$have vs $want")
    }
  }

  test("percentile_cont(0.5) from the clo/chi rank pair (a18's mapping)") {
    data.createOrReplaceTempView("qr_data")
    val expected = Fixtures.withConf(spark, Fixtures.builtinPercentile) {
      val builtin = spark.sql(
        """SELECT grp,
          |       ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY v), 4) AS p
          |FROM qr_data GROUP BY grp""".stripMargin)
      val plan = builtin.queryExecution.executedPlan.toString
      assert(plan.contains("percentile("), s"reference must plan the builtin:\n$plan")
      builtin.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    }
    val vals = QuantileRefine.atRankExprs(data, Seq("grp"),
      Seq("clo" -> "(n + 1) DIV 2", "chi" -> "n DIV 2 + 1"))
    def pick(rid: String) = max(when(col("rid") === rid, col("v")))
    val got = vals.groupBy("grp")
      .agg(round(pick("clo") + (pick("chi") - pick("clo")) * 0.5, 4).as("p"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == expected)
  }

  test("weighted rank over non-distinct rows == rank over the count table") {
    // same multiset expressed two ways: repeated unit rows vs weights; the
    // second input's five values share one bucket, so each weight-12 row
    // straddles the middle ranks inside a multi-valued bucket
    for (unitRows <- Seq(
      Seq.tabulate(60)(i => ("g", ((i * 31) % 7).toDouble, 1L)).toDF("grp", "v", "c"),
      Seq.tabulate(60)(i => ("g", 1.0 + (i % 5) * 1e-3, 1L)).toDF("grp", "v", "c"));
      rx <- Seq("(n + 1) DIV 2", "(n + 3) DIV 4", "1", "n")) {
      val weighted = unitRows.groupBy("grp", "v").agg(sum("c").as("c"))
      val a = QuantileRefine.atRankExprs(unitRows, Seq("grp"), Seq("x" -> rx))
        .select("v", "n").collect().toSeq
      val b = QuantileRefine.atRankExprs(weighted, Seq("grp"), Seq("x" -> rx))
        .select("v", "n").collect().toSeq
      assert(a == b, s"rank $rx")
    }
  }

  test("NULL values and non-positive weights are ignored, like the ordered-set builtins") {
    // percentile_disc skips NULLs; atRankExprs must too (ADVICE r12) — and a
    // c <= 0 weight row contributes nothing rather than corrupting cum/n.
    val withNulls = data.unionByName(
      Seq(("g3", null.asInstanceOf[java.lang.Double], 1L),
        ("g3", java.lang.Double.valueOf(1e9), 0L),
        ("g3", java.lang.Double.valueOf(-1e9), -5L),
        ("g5", null.asInstanceOf[java.lang.Double], 3L))
        .toDF("grp", "v", "c"))
    val clean = QuantileRefine.atRankExprs(data, Seq("grp"),
      Seq("med" -> "(n + 1) DIV 2")).collect().toSet
    val noisy = QuantileRefine.atRankExprs(withNulls, Seq("grp"),
      Seq("med" -> "(n + 1) DIV 2")).collect().toSet
    assert(noisy == clean)
  }

  test("90%-tied group: every rank inside AND outside the tie mass is exact") {
    // ranks 1 and 900 land on the zero mass (degenerate lo==hi bucket →
    // short-circuit), 901 and 1000 land in the distinct tail
    val got = QuantileRefine.atRankExprs(
      data.filter(col("grp") === "g6"), Seq("grp"),
      Seq("r1" -> "1", "rTieHi" -> "900", "rFirstTail" -> "901", "rMax" -> "n"))
      .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(got == Map("r1" -> 0.0, "rTieHi" -> 0.0,
      "rFirstTail" -> 0.625, "rMax" -> 62.5))
  }

  test("multi-rank batch returns one row per (group, rid) with shared n") {
    // ranks 0 and n + 1 lie outside [1, n]: they answer no row
    val out = QuantileRefine.atRankExprs(data, Seq("grp"),
      Seq("lo" -> "1", "zero" -> "0", "med" -> "(n + 1) DIV 2", "hi" -> "n",
        "past" -> "n + 1"))
    assert(out.count() == 18) // 6 groups x 3 rids
    val g3 = out.filter(col("grp") === "g3").collect()
      .map(r => r.getString(1) -> (r.getDouble(2), r.getLong(3))).toMap
    assert(g3("lo")._1 == -6.0 && g3("hi")._1 == 6.0)
    assert(g3.values.forall(_._2 == 40L))
  }

  test("group columns may share the engine's working names, not its output names") {
    val med = Seq("med" -> "(n + 1) DIV 2")
    def byGroup(df: DataFrame) = df.collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val want = byGroup(QuantileRefine.atRankExprs(data, Seq("grp"), med))
    for (name <- Seq("b", "lo", "cum")) {
      val got = QuantileRefine.atRankExprs(data.withColumnRenamed("grp", name), Seq(name), med)
      assert(got.columns.toSeq == Seq(name, "rid", "v", "n") && byGroup(got) == want, name)
    }
    val e = intercept[IllegalArgumentException](QuantileRefine.atRankExprs(
      data.withColumnRenamed("grp", "rid"), Seq("rid"), med))
    assert(e.getMessage.contains("collide with its output names: rid"), e.getMessage)
  }

  test("sortable_double_bits is strictly monotone over a hostile value set") {
    val vs = Seq(Double.NegativeInfinity, -1e300, -2.0, -1.0 - 1e-15, -1.0,
      -Double.MinPositiveValue, -0.0, 0.0, Double.MinPositiveValue, 1e-300,
      0.5, 1.0, 1.0 + 1e-15, 42.0, 1e308, Double.PositiveInfinity)
    val mapped = vs.map(SortableDoubleBits.sortable)
    assert(mapped == mapped.sorted, "order preserved")
    assert(mapped.distinct.size == mapped.size,
      "injective (-0.0 maps strictly below +0.0)")
  }
}
