package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.BucketHist
import graft.operators.PercentileCont
import graft.tlc.Fixtures

/** r14: the single-pass multi-column bucket histogram must be BIT-IDENTICAL
  * to the stacked-unpivot histogram it replaced in PercentileCont's pass 1
  * (same bucket ids, same counts, same per-bucket min/max), including under
  * mid-stream partial flushes, and the PercentileCont results built on top
  * must stay bit-identical to Spark's builtin `percentile`. */
class BucketHistogramSpec extends AnyFunSuite {

  private lazy val spark = Fixtures.sparkSession()

  /** Hostile value mix: negatives, ±0.0, ties, nulls, subnormals, integers
    * that exercise the CAST-to-double path, one group with all-null column. */
  private def fixture() = {
    import spark.implicits._
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

  /** The r13 stacked-expression histogram, verbatim (the reference shape). */
  private def stackedHist(df: org.apache.spark.sql.DataFrame,
                          cols: Seq[String]) = {
    val stackSql = s"stack(${cols.size}, " + cols.map(c =>
      s"'$c', CAST(`$c` AS DOUBLE)").mkString(", ") + ") AS (pcol, v)"
    df.selectExpr("g", stackSql)
      .withColumn("c", lit(1L))
      .filter(col("v").isNotNull && col("c") > 0)
      .withColumn("b", expr("shiftright(sortable_double_bits(v), 48)"))
      .groupBy(col("g"), col("pcol"), col("b"))
      .agg(sum(col("c")).as("bc"), min(col("v")).as("blo"), max(col("v")).as("bhi"))
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("g", "pcol", "b", "bc", "blo", "bhi").collect()
      .map(r => (0 until 6).map(i =>
        if (r.isNullAt(i)) "null" else r.get(i).toString).mkString("|"))
      .sorted.toSeq

  test("single-pass histogram == stacked histogram, hostile values") {
    val df = fixture()
    val cols = Seq("va", "vb", "vc")
    val one = BucketHist.of(df, Seq("g"), cols, 48)
    val ref = stackedHist(df, cols)
    assert(canon(one) == canon(ref))
  }

  test("mid-stream partial flushes leave the merged histogram unchanged") {
    val df = fixture().repartition(3)
    val cols = Seq("va", "vb")
    val ref = canon(BucketHist.of(df, Seq("g"), cols, 48))
    spark.conf.set("spark.graft.bucketHist.flushEntries", "5")
    try {
      val flushed = canon(BucketHist.of(df, Seq("g"), cols, 48))
      assert(flushed == ref)
    } finally spark.conf.unset("spark.graft.bucketHist.flushEntries")
  }

  test("multi-column PercentileCont.group stays bit-identical to the builtin") {
    val df = fixture()
    val specs = Seq(
      PercentileCont.Spec("a_p25", "va", 1, 4),
      PercentileCont.Spec("a_med", "va", 2, 4),
      PercentileCont.Spec("b_med", "vb", 2, 4),
      PercentileCont.Spec("c_p75", "vc", 3, 4))
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
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0))
      for (i <- 1 to 4) {
        val (gv, wv) = (g.isNullAt(i), w.isNullAt(i)) match {
          case (true, true) => (0.0, 0.0)
          case (false, false) => (g.getDouble(i), w.getDouble(i))
          case _ => fail(s"null mismatch at ${g.getString(0)} col $i")
        }
        // raw == on doubles: the reconstruction promises bit-parity
        assert(gv == wv,
          s"group ${g.getString(0)} col $i: $gv != $wv")
      }
    }
  }
}
