package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PercentileCont
import graft.operators.PercentileCont.Spec
import graft.tlc.Fixtures

/** PercentileCont must reproduce Spark's built-in exact `percentile`
  * aggregate BIT-FOR-BIT — the TLC pipeline and agg tables were hash-gated
  * on the builtin for eleven rounds, and the r13 rewire (verdict item 1)
  * is only sound if the replacement is value-identical, not just
  * close-after-rounding. Dyadic fractions (den a power of two) make the
  * interpolation `(1−f)·lo + f·hi` exact in IEEE double, so plain `==`
  * on the doubles is the right assertion.
  */
class PercentileContSpec extends AnyFunSuite {
  lazy val spark = Fixtures.sparkSession()
  import spark.implicits._

  /** Messy frame: group sizes 1, 2, 3, 40, 500; a null-heavy conditional
    * column (only every 3rd row non-null — the q11 taxi/hvfhv shape); an
    * integer column (the q14 datediff shape); a 90%-tied zero-inflated
    * group (g5 — the degenerate-interval hazard). */
  private lazy val df = {
    val rows =
      Seq(("g1", 7.25, 3)) ++
        Seq(("g2", -3.0, 1), ("g2", 12.5, 2)) ++
        Seq(("g2b", 1.0, 9), ("g2b", 2.0, 8), ("g2b", 4.0, 7)) ++
        (1 to 40).map(i => ("g3", ((i * 7919) % 13).toDouble - 6.0, i)) ++
        (1 to 500).map(i => ("g5", if (i % 10 == 0) i.toDouble / 8 else 0.0, i)) ++
        // non-dyadic values: the interpolation's PRODUCTS round here, so
        // bit-parity only holds if the expression tree matches the builtin
        (1 to 101).map(i => ("g7", math.sqrt(i.toDouble), i)) ++
        // tied neighbours at a non-representable value with rem > 0: the
        // builtin returns the lower key WITHOUT arithmetic; (1−f)·v + f·v
        // is not guaranteed to round back to v, so the explicit lo == hi
        // branch is what keeps this bit-identical
        Seq(("gt", 0.1, 1), ("gt", 0.1, 2), ("gt", 0.3, 3))
    rows.toDF("grp", "x", "k")
      .withColumn("xc", when(col("k") % 3 === 0, col("x")))
  }

  private lazy val expected = Fixtures.withConf(spark, Fixtures.builtinPercentile) {
    val builtin = df.groupBy("grp").agg(
      expr("percentile(x, array(0.25, 0.5, 0.75))").as("px"),
      expr("percentile(xc, 0.5)").as("mc"),
      expr("percentile(k, 0.75)").as("pk"))
      .select(col("grp"),
        element_at(col("px"), 1).as("p25"), element_at(col("px"), 2).as("p50"),
        element_at(col("px"), 3).as("p75"), col("mc"), col("pk"))
    val plan = builtin.queryExecution.executedPlan.toString
    assert(plan.contains("percentile("), s"reference must plan the builtin:\n$plan")
    builtin.collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
  }

  test("bit-identical to the builtin percentile") {
    val got = PercentileCont.group(df, Seq("grp"), Seq(
      Spec("p25", "x", 1, 4), Spec("p50", "x", 2, 4), Spec("p75", "x", 3, 4),
      Spec("mc", "xc", 1, 2), Spec("pk", "k", 3, 4)))
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(got == expected) // plain ==: doubles must match to the last bit
  }

  test("groups whose value column is entirely null come back null") {
    val d2 = Seq(("a", Some(1.0)), ("a", Some(3.0)), ("b", None))
      .toDF("grp", "x")
    val got = PercentileCont.group(d2, Seq("grp"), Seq(Spec("m", "x", 1, 2)))
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    // builtin percentile over an all-null group is null; group b has no
    // non-null values at all, so it is absent from the percentile frame
    // (callers left-join it back) — assert a covers the interpolated case
    assert(got("a") == Some(2.0) && !got.contains("b"))
  }

  test("n = 1 and n = 2 edge groups, no interpolation vs exact midpoint") {
    val d2 = Seq(("one", 5.5), ("two", 1.0), ("two", 2.0)).toDF("grp", "x")
    val got = PercentileCont.group(d2, Seq("grp"),
      Seq(Spec("p25", "x", 1, 4), Spec("p50", "x", 2, 4)))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got("one") == ((5.5, 5.5)))
    assert(got("two") == ((1.25, 1.5)))
  }

  /** Hostile multi-column mix: negatives, ±0.0, ties, nulls, subnormals,
    * integers that exercise the CAST-to-double path, one group with an
    * all-null column. */
  private def hostile() = {
    val rng = new scala.util.Random(7)
    val rows = (1 to 5000).map { i =>
      val g = s"g${i % 7}"
      val a: java.lang.Double =
        if (i % 11 == 0) null
        else if (i % 5 == 0) 0.0
        else if (i % 5 == 1) -0.0
        else if (i % 3 == 0) 42.42 // heavy tie mass
        else (rng.nextDouble() - 0.5) * 1e6
      val b: java.lang.Double =
        if (g == "g3") null // whole group null in this column
        else if (i % 7 == 0) java.lang.Double.MIN_VALUE * i
        else -rng.nextDouble() * 1e-3
      val c: java.lang.Integer = if (i % 13 == 0) null else i % 97 - 48
      (g, a, b, c)
    }
    rows.toDF("g", "va", "vb", "vc")
  }

  /** [[hostile]] plus NaN, +Inf and −Inf: a few in every group, shifting
    * its ranks, and small groups whose quartiles land on them or
    * interpolate between a finite value and an infinity. Spark orders NaN
    * above +Inf; sortable_double_bits buckets NaN above +Inf and −Inf below
    * every finite value. */
  private def hostileNonFinite() = {
    val (nan, inf) = (java.lang.Double.NaN, java.lang.Double.POSITIVE_INFINITY)
    def row(g: String, a: java.lang.Double, b: java.lang.Double, c: Int) =
      (g, a, b, java.lang.Integer.valueOf(c))
    val spread = (1 to 60).map { i =>
      val g = s"g${i % 7}"
      row(g, Seq(nan, inf, -inf)(i % 3),
        if (g == "g3") null else Seq(-inf, nan, inf)(i % 3), i % 5)
    }
    val small = Seq(
      row("gi", -inf, nan, 1), row("gi", 1.0, nan, 2),
      row("gi", inf, 2.0, 3), row("gi", nan, null, 4),
      row("gn", nan, inf, 0), row("gn", nan, inf, 0),
      row("gf", -inf, -inf, 5), row("gf", inf, -inf, 6))
    hostile().unionByName((spread ++ small).toDF("g", "va", "vb", "vc"))
  }

  test("multi-column PercentileCont.group stays bit-identical to the builtin") {
    val specs = Seq(
      Spec("a_p25", "va", 1, 4),
      Spec("a_med", "va", 2, 4),
      Spec("b_med", "vb", 2, 4),
      Spec("c_p75", "vc", 3, 4))
    for ((input, df) <- Seq("hostile" -> hostile(),
        "hostile + NaN/±Inf" -> hostileNonFinite())) {
      val got = PercentileCont.group(df, Seq("g"), specs)
        .orderBy("g").collect()
      val want = Fixtures.withConf(spark, Fixtures.builtinPercentile) {
        val builtin = df.groupBy("g").agg(
            expr("percentile(va, 0.25)").as("a_p25"),
            expr("percentile(va, 0.5)").as("a_med"),
            expr("percentile(vb, 0.5)").as("b_med"),
            expr("percentile(vc, 0.75)").as("c_p75"))
          // group() emits only groups with >=1 non-null value in SOME column;
          // the fixture guarantees that for every group, so row sets align.
          .orderBy("g")
        val plan = builtin.queryExecution.executedPlan.toString
        assert(plan.contains("percentile("), s"reference must plan the builtin:\n$plan")
        builtin.collect()
      }
      assert(got.length == want.length, input)
      got.zip(want).foreach { case (g, w) =>
        assert(g.getString(0) == w.getString(0), input)
        for (i <- 1 to 4) {
          val (gv, wv) = (g.isNullAt(i), w.isNullAt(i)) match {
            case (true, true) => (0.0, 0.0)
            case (false, false) => (g.getDouble(i), w.getDouble(i))
            case _ => fail(s"$input: null mismatch at ${g.getString(0)} col $i")
          }
          // raw == on doubles: the reconstruction promises bit-parity
          // (NaN only equals NaN)
          assert(gv == wv || (gv.isNaN && wv.isNaN),
            s"$input: group ${g.getString(0)} col $i: $gv != $wv")
        }
      }
    }
  }
}
