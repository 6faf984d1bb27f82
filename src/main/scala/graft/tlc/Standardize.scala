package graft.tlc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Exact.safeDiv

/** Standardization of the three heterogeneous raw schemas into the unified
  * fact frame (reference: src/transformations/standardize.py).
  *
  * Deliberate deviations from the reference, all documented in SURVEY.md §7.4:
  *  - trip_id is a CONTENT HASH for every service. The reference hashes
  *    yellow/green (standardize.py:35,100) but uses
  *    `'h_' || offset || ROW_NUMBER() OVER ()` for HVFHV
  *    (standardize.py:182) — a nondeterministic single-partition hazard in a
  *    distributed engine. We hash service + pickup + zones + miles + fare
  *    instead and dedup with dropDuplicates (replacing INSERT OR IGNORE).
  *  - `pickup_day_of_week` uses the DuckDB DOW convention 0=Sunday..6
  *    (`dayofweek(ts) - 1`; reference EXTRACT(DOW ...) standardize.py:41).
  *  - dropoff_datetime / dropoff_zone_id / is_shared_match are carried
  *    through so analytics 06/08/10 run (SURVEY.md §1.1).
  *
  * Yellow and green share one body: their pickup, dropoff, distance and
  * fare columns come from the per-service table the quality checks also
  * dispatch on (`Schemas.ServiceColumns`), so the two calls differ only in
  * service name, trip_id tag (md5 of "y"/"g" + pickup + distance) and
  * airport fee (NULL for green, standardize.py:117). HVFHV's schema and
  * fare composition share nothing with them and keep their own body.
  *
  * No batching: the reference's 5M-row LIMIT/OFFSET loop
  * (standardize.py:157–237) is an OOM workaround Spark does not need —
  * partitioned execution + spill replace it (SURVEY.md §2.6 T5).
  */
object Standardize {

  private def durationMinutes(pickup: Column, dropoff: Column): Column =
    (unix_timestamp(dropoff) - unix_timestamp(pickup)) / 60.0

  private val nullD = lit(null).cast("double")
  private val nullS = lit(null).cast("string")
  private val nullB = lit(null).cast("boolean")

  /** Shared tail of all three standardizers: derived metrics + fact shape. */
  private def finish(df: DataFrame): DataFrame =
    df.select(Schemas.factColumns.map(col): _*)

  /** Yellow taxi → fact (standardize.py:23–69). */
  def yellow(raw: DataFrame): DataFrame =
    taxi(raw, "yellow", "y", Schemas.yellowCols, col("Airport_fee"))

  /** Green taxi → fact (standardize.py:89–132; NULL airport_fee :117). */
  def green(raw: DataFrame): DataFrame = taxi(raw, "green", "g", Schemas.greenCols, nullD)

  /** The yellow/green body: the two taxi schemas differ only in the pickup/
    * dropoff column prefix (`c`), the trip_id tag and the airport fee. */
  private def taxi(raw: DataFrame, service: String, tag: String,
                   c: Schemas.ServiceColumns, airportFee: Column): DataFrame = {
    val (pickup, dropoff, dist, fare) =
      (col(c.pickup), col(c.dropoff), col(c.distance), col(c.fare))
    val dur = durationMinutes(pickup, dropoff)
    finish(raw
      .filter(pickup.isNotNull && dropoff.isNotNull)
      .select(
        md5(concat(lit(tag), pickup.cast("string"), dist.cast("string"))).as("trip_id"),
        lit(service).as("service_type"),
        nullS.as("hvfhs_license_num"),
        pickup.as("pickup_datetime"),
        dropoff.as("dropoff_datetime"),
        pickup.cast("date").as("pickup_date"),
        hour(pickup).as("pickup_hour"),
        (dayofweek(pickup) - 1).as("pickup_day_of_week"),
        col("PULocationID").as("pickup_zone_id"),
        col("DOLocationID").as("dropoff_zone_id"),
        dist.as("trip_distance_miles"),
        dur.as("trip_duration_minutes"),
        col("fare_amount").as("base_fare"),
        col("tip_amount").as("tips"),
        col("tolls_amount").as("tolls"),
        (col("extra") + col("improvement_surcharge") + col("congestion_surcharge"))
          .as("surcharges"),
        airportFee.as("airport_fee"),
        col("mta_tax").as("taxes"),
        fare.as("total_fare"),
        nullD.as("driver_pay"),
        nullD.as("take_rate"),
        safeDiv(fare, dist).as("price_per_mile"),
        safeDiv(fare, dur).as("price_per_minute"),
        safeDiv(dist, dur / 60.0).as("avg_speed_mph"),
        nullB.as("is_shared_request"),
        nullB.as("is_shared_match"),
        (fare >= 0 && dropoff > pickup && dist >= 0).as("is_valid"),
        col("source_file")))
  }

  /** HVFHV → fact (standardize.py:167–224): platform economics columns,
    * total_fare composed from 7 addends, take_rate with zero guard. */
  def hvfhv(raw: DataFrame): DataFrame = {
    val total = col("base_passenger_fare") + col("tips") + col("tolls") +
      col("bcf") + col("sales_tax") + col("congestion_surcharge") + col("airport_fee")
    val durMin = col("trip_time") / 60.0
    finish(raw
      .filter(col("pickup_datetime").isNotNull && col("dropoff_datetime").isNotNull)
      .select(
        md5(concat_ws("|", lit("h"), col("hvfhs_license_num"),
          col("pickup_datetime").cast("string"), col("PULocationID"),
          col("DOLocationID"), col("trip_miles"), col("base_passenger_fare")))
          .as("trip_id"),
        lit("hvfhv").as("service_type"),
        col("hvfhs_license_num"),
        col("pickup_datetime"),
        col("dropoff_datetime"),
        col("pickup_datetime").cast("date").as("pickup_date"),
        hour(col("pickup_datetime")).as("pickup_hour"),
        (dayofweek(col("pickup_datetime")) - 1).as("pickup_day_of_week"),
        col("PULocationID").cast("int").as("pickup_zone_id"),
        col("DOLocationID").cast("int").as("dropoff_zone_id"),
        col("trip_miles").as("trip_distance_miles"),
        durMin.as("trip_duration_minutes"),
        col("base_passenger_fare").as("base_fare"),
        col("tips"),
        col("tolls"),
        (col("bcf") + col("congestion_surcharge")).as("surcharges"),
        col("airport_fee"),
        col("sales_tax").as("taxes"),
        total.as("total_fare"),
        col("driver_pay"),
        safeDiv(total - col("driver_pay"), total).as("take_rate"),
        safeDiv(total, col("trip_miles")).as("price_per_mile"),
        safeDiv(total, durMin).as("price_per_minute"),
        safeDiv(col("trip_miles"), col("trip_time") / 3600.0).as("avg_speed_mph"),
        (col("shared_request_flag") === "Y").as("is_shared_request"),
        (col("shared_match_flag") === "Y").as("is_shared_match"),
        (col("base_passenger_fare") >= 0 &&
         col("dropoff_datetime") > col("pickup_datetime") &&
         col("trip_miles") >= 0 && col("driver_pay") >= 0).as("is_valid"),
        col("source_file")))
  }

  /** Each service's standardizer, by service name. */
  val byService: Map[String, DataFrame => DataFrame] =
    Map("yellow" -> (yellow(_)), "green" -> (green(_)), "hvfhv" -> (hvfhv(_)))

  /** Standardized services → one fact frame. Union-by-construction
    * (standardize.py:24,90,168) becomes unionByName; INSERT OR IGNORE PK
    * dedup becomes dropDuplicates on trip_id. */
  def union(facts: Seq[DataFrame]): DataFrame =
    facts.reduce(_ unionByName _).dropDuplicates("trip_id")

  /** All three services → one fact frame ([[union]]). */
  def all(rawYellow: DataFrame, rawGreen: DataFrame, rawHvfhv: DataFrame): DataFrame =
    union(Seq(yellow(rawYellow), green(rawGreen), hvfhv(rawHvfhv)))
}
