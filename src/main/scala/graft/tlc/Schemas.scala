package graft.tlc

import org.apache.spark.sql.types._

/** Explicit StructTypes for the TLC pipeline (never infer on trip data).
  *
  * Mirrors the reference DDL: raw_yellow / raw_green / raw_hvfhv /
  * raw_taxi_zones (sql/ddl/01_raw_tables.sql:10–105) and the unified fact
  * (sql/ddl/03_fact_tables.sql:12–58) — with `dropoff_datetime`,
  * `dropoff_zone_id` and `is_shared_match` RESTORED: the reference's
  * "optimized" fact DDL dropped them but analytics 06/08/10 still reference
  * them (SURVEY.md §1.1).
  */
object Schemas {

  val rawYellow: StructType = StructType(Seq(
    StructField("VendorID", IntegerType),
    StructField("tpep_pickup_datetime", TimestampType),
    StructField("tpep_dropoff_datetime", TimestampType),
    StructField("passenger_count", DoubleType),
    StructField("trip_distance", DoubleType),
    StructField("RatecodeID", DoubleType),
    StructField("store_and_fwd_flag", StringType),
    StructField("PULocationID", IntegerType),
    StructField("DOLocationID", IntegerType),
    StructField("payment_type", IntegerType),
    StructField("fare_amount", DoubleType),
    StructField("extra", DoubleType),
    StructField("mta_tax", DoubleType),
    StructField("tip_amount", DoubleType),
    StructField("tolls_amount", DoubleType),
    StructField("improvement_surcharge", DoubleType),
    StructField("total_amount", DoubleType),
    StructField("congestion_surcharge", DoubleType),
    StructField("Airport_fee", DoubleType)))

  val rawGreen: StructType = StructType(Seq(
    StructField("VendorID", IntegerType),
    StructField("lpep_pickup_datetime", TimestampType),
    StructField("lpep_dropoff_datetime", TimestampType),
    StructField("store_and_fwd_flag", StringType),
    StructField("RatecodeID", DoubleType),
    StructField("PULocationID", IntegerType),
    StructField("DOLocationID", IntegerType),
    StructField("passenger_count", DoubleType),
    StructField("trip_distance", DoubleType),
    StructField("fare_amount", DoubleType),
    StructField("extra", DoubleType),
    StructField("mta_tax", DoubleType),
    StructField("tip_amount", DoubleType),
    StructField("tolls_amount", DoubleType),
    StructField("ehail_fee", DoubleType),
    StructField("improvement_surcharge", DoubleType),
    StructField("total_amount", DoubleType),
    StructField("payment_type", IntegerType),
    StructField("trip_type", DoubleType),
    StructField("congestion_surcharge", DoubleType)))

  val rawHvfhv: StructType = StructType(Seq(
    StructField("hvfhs_license_num", StringType),
    StructField("dispatching_base_num", StringType),
    StructField("originating_base_num", StringType),
    StructField("request_datetime", TimestampType),
    StructField("on_scene_datetime", TimestampType),
    StructField("pickup_datetime", TimestampType),
    StructField("dropoff_datetime", TimestampType),
    StructField("PULocationID", LongType),
    StructField("DOLocationID", LongType),
    StructField("trip_miles", DoubleType),
    StructField("trip_time", LongType),
    StructField("base_passenger_fare", DoubleType),
    StructField("tolls", DoubleType),
    StructField("bcf", DoubleType),
    StructField("sales_tax", DoubleType),
    StructField("congestion_surcharge", DoubleType),
    StructField("airport_fee", DoubleType),
    StructField("tips", DoubleType),
    StructField("driver_pay", DoubleType),
    StructField("shared_request_flag", StringType),
    StructField("shared_match_flag", StringType),
    StructField("access_a_ride_flag", StringType),
    StructField("wav_request_flag", StringType),
    StructField("wav_match_flag", StringType)))

  /** The raw columns the quality checks and the taxi standardizer read, per
    * service (quality_checks.py:22–25 dispatch). */
  final case class ServiceColumns(
    fare: String, pickup: String, dropoff: String, distance: String)

  val yellowCols: ServiceColumns = ServiceColumns(
    "total_amount", "tpep_pickup_datetime", "tpep_dropoff_datetime", "trip_distance")
  val greenCols: ServiceColumns = ServiceColumns(
    "total_amount", "lpep_pickup_datetime", "lpep_dropoff_datetime", "trip_distance")
  val hvfhvCols: ServiceColumns = ServiceColumns(
    "base_passenger_fare", "pickup_datetime", "dropoff_datetime", "trip_miles")

  def columnsFor(service: String): ServiceColumns = service match {
    case s if s.contains("yellow") => yellowCols
    case s if s.contains("green")  => greenCols
    case _                         => hvfhvCols
  }

  val rawTaxiZones: StructType = StructType(Seq(
    StructField("LocationID", IntegerType),
    StructField("Borough", StringType),
    StructField("Zone", StringType),
    StructField("service_zone", StringType)))

  /** Fact column order (the standardizers all emit exactly this). */
  val factColumns: Seq[String] = Seq(
    "trip_id", "service_type", "hvfhs_license_num",
    "pickup_datetime", "dropoff_datetime", "pickup_date", "pickup_hour",
    "pickup_day_of_week", "pickup_zone_id", "dropoff_zone_id",
    "trip_distance_miles", "trip_duration_minutes",
    "base_fare", "tips", "tolls", "surcharges", "airport_fee", "taxes",
    "total_fare", "driver_pay", "take_rate",
    "price_per_mile", "price_per_minute", "avg_speed_mph",
    "is_shared_request", "is_shared_match", "is_valid", "source_file")
}
