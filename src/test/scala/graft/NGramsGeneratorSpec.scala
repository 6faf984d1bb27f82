package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tlc.Fixtures

/** Edge semantics of the custom n-gram Generator: short rows and NULLs
  * yield nothing (matching the size(ts) >= n guards used across graft.ops),
  * and output equals the composed explode(transform(sequence(...))) idiom
  * it replaces. */
class NGramsGeneratorSpec extends AnyFunSuite {
  lazy val spark = Fixtures.sparkSession()

  test("short and NULL token arrays generate no rows; n-grams match the composed form") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d"),
      (2L, "x y"),          // shorter than n=3 -> nothing
      (3L, null: String)    // NULL -> nothing
    ).toDF("id", "text")
      .withColumn("ts", when(col("text").isNotNull, split(col("text"), " ")))
    df.createOrReplaceTempView("ngspec")
    val got = spark.sql(
      "SELECT id, ngram FROM ngspec LATERAL VIEW ngrams(ts, 3) g AS ngram")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a b c"), (1L, "b c d")))
    val composed = df.filter(size(col("ts")) >= 3)
      .select(col("id"), explode(expr(
        "transform(sequence(0, size(ts) - 3), i -> concat_ws(' ', ts[i], ts[i+1], ts[i+2]))"))
        .as("ngram"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == composed)
  }
}
