package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.TopK
import graft.tlc.Fixtures

/** The custom heap-based operator must agree with the window-function
  * formulation on every input shape. */
class TopKPerGroupSpec extends AnyFunSuite {
  lazy val spark = Fixtures.sparkSession()

  private def windowTopK(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("id"))
    df.withColumn("rk", row_number().over(w)).filter(col("rk") <= k).drop("rk")
  }

  private def nativeTopK(df: org.apache.spark.sql.DataFrame, k: Int) =
    TopK.perGroup(df, k, Seq("g"), Seq("v" -> false, "id" -> true))

  /** The window form's rows, planned by Spark itself (rewrite off). */
  private def referenceRows(df: org.apache.spark.sql.DataFrame, k: Int): Seq[Row] =
    Fixtures.withConf(spark, Fixtures.builtinTopK) {
      val ref = windowTopK(df, k)
      val plan = ref.queryExecution.executedPlan.toString
      assert(!plan.contains("TopKPerGroup"), s"reference must run the window:\n$plan")
      ref.collect().toSeq
    }

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  test("agrees with row_number window on random data, several k") {
    import spark.implicits._
    val rnd = new scala.util.Random(1)
    val df = (1 to 5000).map(i => (rnd.nextInt(50).toLong, rnd.nextInt(1000), i.toLong))
      .toDF("g", "v", "id").repartition(7).cache()
    for (k <- Seq(1, 3, 10)) {
      val a = nativeTopK(df, k).collect().toSeq
      val b = referenceRows(df, k)
      assert(a.size == b.size, s"k=$k count")
      assert(sorted(a) == sorted(b), s"k=$k rows")
    }
  }

  test("k larger than every group returns all rows") {
    import spark.implicits._
    val df = Seq((1L, 10, 1L), (1L, 20, 2L), (2L, 5, 3L)).toDF("g", "v", "id")
    assert(nativeTopK(df, 100).count() == 3)
  }

  test("empty input yields empty output") {
    import spark.implicits._
    val df = Seq.empty[(Long, Int, Long)].toDF("g", "v", "id")
    assert(nativeTopK(df, 2).count() == 0)
  }

  test("optimizer rule rewrites row_number+filter when rank is dropped") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i % 20L, i * 7 % 97, i.toLong))
      .toDF("g", "v", "id")
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("id"))
    val idiom = df.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3).select("g", "v", "id")
    assert(idiom.queryExecution.executedPlan.toString.contains("TopKPerGroup"),
      "rewrite should fire when the rank column is dropped")
    // and produces the same rows as the unrewritten window form
    assert(sorted(idiom.collect().toSeq) == sorted(referenceRows(df, 3)))
  }

  test("optimizer rule leaves the window when the rank is in the output") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i % 5L, i, i.toLong)).toDF("g", "v", "id")
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("id"))
    val withRank = df.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3).select("g", "rk")
    assert(!withRank.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
    assert(withRank.count() == 15)
  }

  test("duplicate order values resolved by tiebreak deterministically") {
    import spark.implicits._
    val df = Seq((1L, 7, 1L), (1L, 7, 2L), (1L, 7, 3L)).toDF("g", "v", "id")
    val kept = nativeTopK(df, 2).select("id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 2L))
  }
}
