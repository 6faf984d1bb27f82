package graft.tlc

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Mirrors tests/test_quality_checks.py + dimension DDL expectations. */
class QualityDimsSpec extends AnyFunSuite {
  lazy val spark = Fixtures.sparkSession()

  /** One check's result from the single-scan pass over a yellow table. */
  private def check(yellow: org.apache.spark.sql.DataFrame, checkType: String) =
    QualityChecks.runAll(yellow, "yellow").find(_.checkType == checkType).get

  test("fare check counts negative fares (test_quality_checks.py:33–57)") {
    val bad = Fixtures.yellow(spark).withColumn("total_amount",
      when(col("PULocationID") === 161, lit(-5.0)).otherwise(col("total_amount")))
    val r = check(bad, "fare_validation")
    assert(r.totalRows == 4 && r.failedRows == 1)
    assert(r.details("negative_fares") == "1")
  }

  test("timestamp check counts reversed order (test_quality_checks.py:85–109)") {
    val bad = Fixtures.yellow(spark).withColumn("tpep_dropoff_datetime",
      when(col("PULocationID") === 161,
        col("tpep_pickup_datetime") - expr("INTERVAL 5 MINUTES"))
        .otherwise(col("tpep_dropoff_datetime")))
    val r = check(bad, "timestamp_validation")
    assert(r.failedRows == 1 && r.passedRows == 3)
  }

  test("speed check flags 150 mi in 1h = 150 mph (test_quality_checks.py:111–139)") {
    val bad = Fixtures.yellow(spark).withColumn("trip_distance",
      when(col("PULocationID") === 161, lit(150.0)).otherwise(col("trip_distance")))
      .withColumn("tpep_dropoff_datetime",
        when(col("PULocationID") === 161,
          col("tpep_pickup_datetime") + expr("INTERVAL 1 HOUR"))
          .otherwise(col("tpep_dropoff_datetime")))
    val r = check(bad, "speed_validation")
    assert(r.details("excessive_speed") == "1")
  }

  test("distance check counts negatives (test_quality_checks.py:141–161)") {
    val bad = Fixtures.yellow(spark).withColumn("trip_distance",
      when(col("PULocationID") === 161, lit(-1.0)).otherwise(col("trip_distance")))
    val r = check(bad, "distance_validation")
    assert(r.details("negative_distance") == "1" && r.failedRows == 1)
  }

  test("hvfhv column dispatch uses base_passenger_fare/trip_miles (quality_checks.py:22–25)") {
    val r = QualityChecks.runAll(Fixtures.hvfhv(spark), "hvfhv")
    assert(r.map(_.checkType) == Seq("fare_validation", "timestamp_validation",
      "speed_validation", "distance_validation"))
    assert(r.forall(_.failedRows == 0))
  }

  test("dim_zones flags: EWR is airport via LIKE arm only; Manhattan flag (02_dimension_tables.sql:21–36)") {
    val z = Dimensions.dimZones(Fixtures.zones(spark)).cache()
    val ewr = z.filter(col("location_id") === 1).head()
    assert(ewr.getAs[Boolean]("is_airport"))
    assert(!ewr.getAs[Boolean]("is_manhattan"))
    assert(z.filter(col("is_manhattan")).count() == 6)
    assert(z.filter(col("is_airport")).count() == 1)
  }

  test("dim_date spine: 1826 rows 2021–2025, weekend/holiday flags, CBD split (02_dimension_tables.sql:60–88)") {
    val d = Dimensions.dimDate(spark).cache()
    assert(d.count() == 1826)
    val jun1 = d.filter(col("date_id") === lit("2024-06-01").cast("date")).head()
    assert(jun1.getAs[Int]("day_of_week") == 6) // Saturday, DuckDB 0-based
    assert(jun1.getAs[Boolean]("is_weekend"))
    assert(d.filter(col("is_holiday")).count() == 15) // 3 holidays × 5 years
    assert(d.filter(col("is_after_congestion_fee")).count() == 361) // 2025-01-05..12-31
  }

  test("dim_time: 24 rows, rush hours 7-9 + 16-19 (02_dimension_tables.sql:101–130)") {
    val t = Dimensions.dimTime(spark).cache()
    assert(t.count() == 24)
    assert(t.filter(col("is_rush_hour")).count() == 7)
    assert(t.filter(col("hour") === 0).head().getAs[String]("hour_12") == "12 AM")
    assert(t.filter(col("hour") === 13).head().getAs[String]("hour_12") == "1 PM")
  }

  test("drift detection: new/missing/type-changed columns (schema_drift.py:75–109)") {
    import org.apache.spark.sql.types._
    val expected = StructType(Seq(
      StructField("a", IntegerType), StructField("b", DoubleType),
      StructField("c", StringType)))
    val actual = StructType(Seq(
      StructField("a", DoubleType),   // tolerated numeric widening
      StructField("c", StringType),
      StructField("d", StringType)))  // new column
    val r = RawLoader.detectDrift(expected, actual)
    assert(r.newColumns == Seq("d"))
    assert(r.missingColumns == Seq("b"))
    assert(r.typeChanges.map(_._1) == Seq("a"))
    assert(r.incompatible.isEmpty)
  }

  test("idempotent load drops rows from already-loaded files (loader.py:147–165)") {
    // a loaded frame carries one source_file, so the sink's file set decides
    // each incoming file whole: the replayed one goes, the new one stays
    val first = Fixtures.yellow(spark)
    val incoming = Seq(first, first.withColumn("source_file", lit("new_file.parquet")))
    val loaded = RawLoader.loadedFiles(first)
    assert(loaded == Set("yellow_fixture.parquet"))
    val result = incoming.filterNot(df => loaded(df.select("source_file").head().getString(0)))
    assert(result.map(_.count()) == Seq(4L))
    assert(result.head.select("source_file").distinct().head().getString(0)
      == "new_file.parquet")
  }
}
