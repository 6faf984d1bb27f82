package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tlc.Fixtures

/** Round-13 gates: semantic invariants beyond the DuckDB hash oracle. */
class Round13OpsSpec extends AnyFunSuite {
  lazy val spark = Fixtures.sparkSession()
  val sfDir = "/root/testdata/sf0.001"

  test("a28: trimmed mean sits between the fences, fences are the discrete " +
    "p10/p90, and the kept count drops ~20% of each group") {
    val rows = SparkEntry.queries("a28_trimmed_mean")(spark, sfDir).collect()
    assert(rows.length == 3)
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("a28_li")
    val q = spark.sql(
      """SELECT l_returnflag, COUNT(*) AS n,
        |       percentile_disc(0.10) WITHIN GROUP (ORDER BY l_extendedprice) AS lo,
        |       percentile_disc(0.90) WITHIN GROUP (ORDER BY l_extendedprice) AS hi
        |FROM a28_li GROUP BY 1""".stripMargin)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    rows.foreach { r =>
      val (flag, kept, mean, lo, hi) =
        (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      val (n, qlo, qhi) = q(flag)
      assert(lo == qlo && hi == qhi,
        s"$flag: fences ($lo,$hi) drifted from percentile_disc ($qlo,$qhi)")
      assert(mean >= lo && mean <= hi, s"$flag: mean $mean outside [$lo,$hi]")
      // two-sided 10% trim keeps ~80%: >= 80% exactly (inclusive fences keep
      // fence ties), and can't keep everything unless the group is tiny
      assert(kept >= (n * 8) / 10, s"$flag: kept $kept < 80% of $n")
      assert(kept < n, s"$flag: trim removed nothing ($kept of $n)")
    }
  }

  test("a29: bins partition each group exactly, indices stay in [0,9], " +
    "and bin_lo advances by one constant width") {
    val rows = SparkEntry.queries("a29_equiwidth_histogram")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val groupN = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (flag, rs) =>
      assert(rs.map(_._3).sum == groupN(flag),
        s"$flag: bin counts must partition the group")
      assert(rs.forall(r => r._2 >= 0 && r._2 <= 9))
      val sorted = rs.sortBy(_._2)
      val steps = sorted.sliding(2).collect { case Array(a, b) =>
        (b._4 - a._4) / (b._2 - a._2) }.toSeq
      if (steps.size > 1)
        assert(steps.forall(s => math.abs(s - steps.head) < 1e-6 * math.abs(steps.head)),
          s"$flag: bin_lo must advance by one constant width: $steps")
    }
  }

  test("sa21: exactly k docs per stratum, each stratum's cut is the k " +
    "hash-smallest (matches a window-rank replay), and membership is " +
    "stable under re-partitioning") {
    val out = SparkEntry.queries("sa21_hash_reservoir")(spark, sfDir)
    val rows = out.collect()
    val k = 50
    val perLang = rows.groupBy(_.getString(0))
    val langSizes = Tables.documents(spark, sfDir)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perLang.foreach { case (lang, rs) =>
      assert(rs.length == math.min(k.toLong, langSizes(lang)),
        s"$lang: ${rs.length} docs, expected min($k, ${langSizes(lang)})")
    }
    // oracle-shape replay through a window rank instead of the native plan
    val replay = Fixtures.withConf(spark, Fixtures.builtinTopK) {
      val ranked = Tables.documents(spark, sfDir)
        .withColumn("h", expr(
          "CAST(conv(substring(md5(concat('graft-reservoir', CAST(doc_id AS STRING))), 1, 7), 16, 10) AS BIGINT)"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("lang")
            .orderBy(col("h"), col("doc_id"))))
        .filter(col("rn") <= k)
        .select("lang", "doc_id")
      val plan = ranked.queryExecution.executedPlan.toString
      assert(!plan.contains("TopKPerGroup"), s"replay must run the window:\n$plan")
      ranked.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    }
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSet == replay,
      "native TopKPerGroup membership differs from the window-rank replay")
    // partitioning independence: same result from a deliberately bad layout
    val ranked = Tables.documents(spark, sfDir)
      .repartition(7, col("doc_id"))
      .withColumn("h", expr(
        "CAST(conv(substring(md5(concat('graft-reservoir', CAST(doc_id AS STRING))), 1, 7), 16, 10) AS BIGINT)"))
      .select(col("lang"), col("doc_id"), col("h"))
    val again = graft.plans.TopK.perGroup(ranked, k = k,
      groupCols = Seq("lang"), orderBy = Seq("h" -> true, "doc_id" -> true))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(again == replay, "membership changed under re-partitioning")
  }
}
