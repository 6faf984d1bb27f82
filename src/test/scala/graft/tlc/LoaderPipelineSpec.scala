package graft.tlc

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Integration: raw parquet on disk → RawLoader (with drift) → Pipeline →
  * analytics; plus the partition-scoped incremental aggregate rebuild. */
class LoaderPipelineSpec extends AnyFunSuite {
  lazy val spark = Fixtures.sparkSession()

  test("load from parquet with drift: extra column reported, missing null-filled, lineage added") {
    val dir = Files.createTempDirectory("graft_rawload_").toString
    // write fixture yellow WITHOUT Airport_fee (missing col) and WITH an
    // unexpected new column (drift both ways)
    Fixtures.yellow(spark)
      .drop("source_file", "Airport_fee")
      .withColumn("new_vendor_metric", lit(1.5))
      .write.mode("overwrite").parquet(dir)
    val (df, drift) = RawLoader.load(spark, dir, Schemas.rawYellow, "yellow_2024-06.parquet")
    assert(drift.newColumns == Seq("new_vendor_metric"))
    assert(drift.missingColumns == Seq("Airport_fee"))
    assert(drift.incompatible.isEmpty)
    assert(df.columns.toSeq == Schemas.rawYellow.fieldNames.toSeq :+ "source_file")
    assert(df.filter(col("Airport_fee").isNull).count() == 4)
    assert(df.select("source_file").distinct().head().getString(0)
      == "yellow_2024-06.parquet")
    // and it standardizes + runs analytics end-to-end
    val result = Pipeline.run(spark, df, Fixtures.green(spark),
      Fixtures.hvfhv(spark), Fixtures.zones(spark))
    assert(result.analytics("01_top_zones_by_revenue")().count() > 0)
  }

  test("incompatible type drift (e.g. string vs timestamp) raises for manual intervention") {
    val dir = Files.createTempDirectory("graft_rawbad_").toString
    Fixtures.yellow(spark).drop("source_file")
      .withColumn("tpep_pickup_datetime", lit("not a timestamp"))
      .write.mode("overwrite").parquet(dir)
    intercept[IllegalArgumentException] {
      RawLoader.load(spark, dir, Schemas.rawYellow, "bad.parquet")
    }
  }

  test("incremental rebuild touches only the targeted date partition") {
    val dir = Files.createTempDirectory("graft_aggs_").toString
    val fact = Standardize.all(Fixtures.yellow(spark), Fixtures.green(spark),
      Fixtures.hvfhv(spark))
    // seed: full build with trips split over two synthetic dates
    val jul = fact.withColumn("pickup_date", lit("2024-07-01").cast("date"))
    val seeded = fact.unionByName(jul)
    Aggregations.write(Aggregations.dailySummary(seeded), dir)
    val before = spark.read.parquet(dir)
    assert(before.count() == 2)
    // rebuild ONLY 2024-07-01 from a modified fact (drop one trip)
    val modified = seeded.filter(
      !(col("pickup_date") === lit("2024-07-01").cast("date") &&
        col("service_type") === "green"))
    Aggregations.refresh(modified, Aggregations.dailySummary,
      Seq(java.sql.Date.valueOf("2024-07-01")), dir)
    val after = spark.read.parquet(dir)
    assert(after.count() == 2)
    val jul1 = after.filter(col("trip_date") === lit("2024-07-01").cast("date")).head()
    assert(jul1.getAs[Long]("total_trips") == 7)   // 10 - 3 green
    val jun1 = after.filter(col("trip_date") === lit("2024-06-01").cast("date")).head()
    assert(jun1.getAs[Long]("total_trips") == 10)  // untouched partition
  }
}
