package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tlc.Fixtures

/** The native expression must match the composable HOF form bit-for-bit
  * (both interpreted eval and whole-stage codegen paths). */
class CosineSimilaritySpec extends AnyFunSuite {
  lazy val spark = Fixtures.sparkSession()

  test("cosine_sim equals aggregate(zip_with(...)) fold on random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (0 until 200).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextDouble() - 0.5),
        Array.fill(64)(rnd.nextDouble() - 0.5)))
    val df = rows.toDF("id", "a", "b")
      .withColumn("native", expr("cosine_sim(a, b)"))
      .withColumn("dot", expr(
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"))
      .withColumn("na", sqrt(expr("aggregate(a, 0D, (acc, x) -> acc + x * x)")))
      .withColumn("nb", sqrt(expr("aggregate(b, 0D, (acc, x) -> acc + x * x)")))
      .withColumn("composed", col("dot") / (col("na") * col("nb")))
    val diffs = df.filter(col("native") =!= col("composed")).count()
    assert(diffs == 0)
  }

  test("NULL on zero-norm input and on NULL input") {
    import spark.implicits._
    val df = Seq(
      (Array(0.0, 0.0), Array(1.0, 2.0)),
      (Array(1.0, 2.0), Array(1.0, 2.0)))
      .toDF("a", "b")
      .withColumn("s", expr("cosine_sim(a, b)"))
      .collect()
    assert(df(0).isNullAt(2))
    assert(math.abs(df(1).getDouble(2) - 1.0) < 1e-12)
    val nullIn = Seq((Option.empty[Array[Double]], Some(Array(1.0))))
      .toDF("a", "b").withColumn("s", expr("cosine_sim(a, b)")).collect()
    assert(nullIn(0).isNullAt(2))
  }

  test("float arrays are implicitly cast (embeddings column shape)") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f))).toDF("a", "b")
      .withColumn("s", expr("cosine_sim(a, b)")).collect()
    assert(math.abs(df(0).getDouble(2) - 1.0) < 1e-12)
  }
}
