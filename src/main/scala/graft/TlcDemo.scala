package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tlc._

/** Driver-contract exposure of the TLC domain library: runs the full
  * reference pipeline (standardize → fact → dims → aggregates → analytics)
  * over deterministic in-code fixture rows (the reference's conftest rows)
  * and exposes eight of the fourteen analytics queries with full DuckDB
  * hash oracles (the fixtures are embedded as VALUES and the
  * standardization formulas replayed in SQL — see `fixtureCtes`). The
  * remaining six either need the agg-table layer (q03), produce empty
  * results on the 10-row fixtures (q06, q11–q14 HAVING thresholds), or
  * both; their semantics are value-asserted in AnalyticsSpec instead.
  */
object TlcDemo extends graft.QueryFamily {
  private def fixtures(s: SparkSession) = {
    // Reuse the test fixtures' row values without depending on test scope:
    // standardize straight from small in-memory frames.
    import s.implicits._
    val y = Seq(
      ("2024-06-01 10:00:00", "2024-06-01 10:15:00", 2.5, 161, 237, 12.5, 2.5, 0.0, 16.3),
      ("2024-06-01 11:00:00", "2024-06-01 11:20:00", 5.0, 237, 142, 25.0, 5.0, 0.0, 31.3),
      ("2024-06-01 12:00:00", "2024-06-01 12:30:00", 3.2, 142, 236, 16.0, 0.0, 5.76, 23.06),
      ("2024-06-01 13:00:00", "2024-06-01 13:10:00", 1.8, 236, 161, 9.5, 2.0, 0.0, 12.8))
      .toDF("p", "d", "trip_distance", "PULocationID", "DOLocationID",
        "fare_amount", "tip_amount", "tolls_amount", "total_amount")
      .select(col("p").cast("timestamp").as("tpep_pickup_datetime"),
        col("d").cast("timestamp").as("tpep_dropoff_datetime"),
        col("trip_distance"), col("PULocationID"), col("DOLocationID"),
        col("fare_amount"), lit(0.5).as("extra"), lit(0.5).as("mta_tax"),
        col("tip_amount"), col("tolls_amount"),
        lit(0.3).as("improvement_surcharge"), col("total_amount"),
        lit(2.5).as("congestion_surcharge"), lit(0.0).as("Airport_fee"),
        lit("fixture").as("source_file"))
    val g = Seq(
      ("2024-06-01 10:00:00", "2024-06-01 10:20:00", 3.0, 74, 75, 15.0, 3.0, 0.0, 19.3),
      ("2024-06-01 11:00:00", "2024-06-01 11:25:00", 4.5, 75, 41, 22.5, 4.5, 0.0, 28.3),
      ("2024-06-01 12:00:00", "2024-06-01 12:35:00", 2.8, 41, 74, 14.0, 0.0, 5.76, 21.06))
      .toDF("p", "d", "trip_distance", "PULocationID", "DOLocationID",
        "fare_amount", "tip_amount", "tolls_amount", "total_amount")
      .select(col("p").cast("timestamp").as("lpep_pickup_datetime"),
        col("d").cast("timestamp").as("lpep_dropoff_datetime"),
        col("trip_distance"), col("PULocationID"), col("DOLocationID"),
        col("fare_amount"), lit(0.5).as("extra"), lit(0.5).as("mta_tax"),
        col("tip_amount"), col("tolls_amount"),
        lit(0.3).as("improvement_surcharge"), col("total_amount"),
        lit(2.5).as("congestion_surcharge"), lit("fixture").as("source_file"))
    val h = Seq(
      ("HV0003", "2024-06-01 10:10:00", "2024-06-01 10:25:00", 161L, 237L, 2.8, 900L,
        15.5, 0.0, 0.47, 1.37, 3.0, 12.5, "N"),
      ("HV0005", "2024-06-01 11:08:00", "2024-06-01 11:30:00", 237L, 142L, 5.2, 1320L,
        28.0, 0.0, 0.84, 2.48, 5.5, 22.0, "N"),
      ("HV0003", "2024-06-01 12:08:00", "2024-06-01 12:40:00", 142L, 236L, 3.5, 1920L,
        20.0, 5.76, 0.60, 1.77, 0.0, 16.0, "Y"))
      .toDF("hvfhs_license_num", "p", "d", "PULocationID", "DOLocationID",
        "trip_miles", "trip_time", "base_passenger_fare", "tolls", "bcf",
        "sales_tax", "tips", "driver_pay", "shared_request_flag")
      .select(col("hvfhs_license_num"),
        col("p").cast("timestamp").as("pickup_datetime"),
        col("d").cast("timestamp").as("dropoff_datetime"),
        col("PULocationID"), col("DOLocationID"), col("trip_miles"),
        col("trip_time"), col("base_passenger_fare"), col("tolls"), col("bcf"),
        col("sales_tax"), lit(2.75).as("congestion_surcharge"),
        lit(0.0).as("airport_fee"), col("tips"), col("driver_pay"),
        col("shared_request_flag"), lit("N").as("shared_match_flag"),
        lit("fixture").as("source_file"))
    val z = Seq(
      (1, "EWR", "Newark Airport", "EWR"),
      (41, "Queens", "Flushing", "Boro Zone"),
      (74, "Queens", "Corona", "Boro Zone"),
      (75, "Queens", "East Elmhurst", "Boro Zone"),
      (142, "Manhattan", "Lincoln Square East", "Yellow Zone"),
      (161, "Manhattan", "Midtown Center", "Yellow Zone"),
      (236, "Manhattan", "Upper East Side South", "Yellow Zone"),
      (237, "Manhattan", "Upper West Side South", "Yellow Zone"))
      .toDF("LocationID", "Borough", "Zone", "service_zone")
    (y, g, h, z)
  }

  // one pipeline run per session — both demo queries share its lineage
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Pipeline.Result]()
  private def result(s: SparkSession): Pipeline.Result =
    cache.computeIfAbsent(s, _ => {
      val (y, g, h, z) = fixtures(s)
      Pipeline.run(s, y, g, h, z)
    })

  /** Gate-only canonicalization: round double columns to 4 digits (the
    * fixture groups hold ≤4 two-decimal values, so each rounded sum/avg is
    * far from any rounding boundary) and add a deterministic tiebreak sort.
    * Analytics itself stays faithful to the reference's output. */
  private def round4(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      if (f.dataType == org.apache.spark.sql.types.DoubleType)
        round(col(f.name), 4).as(f.name)
      else col(f.name)
    }.toSeq: _*)

  val queries: Map[String, Q] = Map(
    // Full TLC pipeline on fixture rows → q01 top zones by revenue.
    "tlc_pipeline_q01" -> { (s, _) =>
      round4(result(s).analytics("01_top_zones_by_revenue")())
        .orderBy(col("total_revenue").desc, col("pickup_zone"))
    },
    // Same pipeline → data-quality summary (exercises restored dropoff cols).
    "tlc_pipeline_q10" -> { (s, _) =>
      round4(result(s).analytics("10_data_quality_summary")())
        .orderBy(col("total_records").desc, col("service_type"))
    },
    // q02 hourly demand (dim_time join: hour labels + rush-hour flag).
    "tlc_pipeline_q02" -> { (s, _) =>
      round4(result(s).analytics("02_hourly_demand_patterns")())
        .orderBy("hour")
    },
    // q05 pricing comparison (quality-band filters + exact medians).
    "tlc_pipeline_q05" -> { (s, _) =>
      round4(result(s).analytics("05_pricing_comparison")())
        .orderBy(col("trip_count").desc, col("service_type"))
    },
    // q09 borough comparison (zone dim join + share pct).
    "tlc_pipeline_q09" -> { (s, _) =>
      round4(result(s).analytics("09_borough_comparison")())
        .orderBy(col("total_trips").desc, col("borough"))
    },
    // q04 HVFHV platform economics (company dim + take-rate percentiles).
    "tlc_pipeline_q04" -> { (s, _) =>
      round4(result(s).analytics("04_hvfhv_platform_economics")())
        .orderBy(col("total_trips").desc, col("company_name"))
    },
    // q07 weekend vs weekday (dim_date is_weekend).
    "tlc_pipeline_q07" -> { (s, _) =>
      round4(result(s).analytics("07_weekend_vs_weekday")())
        .orderBy(col("is_weekend"), col("trip_count").desc, col("service_type"))
    },
    // q08 shared rides (restored is_shared_match + pct-of-total window).
    "tlc_pipeline_q08" -> { (s, _) =>
      round4(result(s).analytics("08_shared_rides_analysis")())
        .orderBy(col("trip_count").desc, col("shared_status"))
    },
    // File-driven SQL gates (reference cli.py:279–297 `run-analytics
    // <file.sql>`) for the seven queries whose pipeline twins run on this
    // fixture: the .sql file executes via SqlRunner over temp views of the
    // same warehouse, applies the twin's canonical ordering, and shares
    // its full DuckDB hash oracle — one replay checks both paths.
    "tlc_sql_q02" -> { (s, _) =>
      SqlRunner.registerViews(result(s).tables)
      round4(SqlRunner.runFile(s, "sql/analytics/02_hourly_demand_patterns.sql"))
        .orderBy("hour")
    },
    "tlc_sql_q04" -> { (s, _) =>
      SqlRunner.registerViews(result(s).tables)
      round4(SqlRunner.runFile(s, "sql/analytics/04_hvfhv_platform_economics.sql"))
        .orderBy(col("total_trips").desc, col("company_name"))
    },
    "tlc_sql_q05" -> { (s, _) =>
      SqlRunner.registerViews(result(s).tables)
      round4(SqlRunner.runFile(s, "sql/analytics/05_pricing_comparison.sql"))
        .orderBy(col("trip_count").desc, col("service_type"))
    },
    "tlc_sql_q07" -> { (s, _) =>
      SqlRunner.registerViews(result(s).tables)
      round4(SqlRunner.runFile(s, "sql/analytics/07_weekend_vs_weekday.sql"))
        .orderBy(col("is_weekend"), col("trip_count").desc, col("service_type"))
    },
    "tlc_sql_q08" -> { (s, _) =>
      SqlRunner.registerViews(result(s).tables)
      round4(SqlRunner.runFile(s, "sql/analytics/08_shared_rides_analysis.sql"))
        .orderBy(col("trip_count").desc, col("shared_status"))
    },
    "tlc_sql_q09" -> { (s, _) =>
      SqlRunner.registerViews(result(s).tables)
      round4(SqlRunner.runFile(s, "sql/analytics/09_borough_comparison.sql"))
        .orderBy(col("total_trips").desc, col("borough"))
    },
    "tlc_sql_q10" -> { (s, _) =>
      SqlRunner.registerViews(result(s).tables)
      round4(SqlRunner.runFile(s, "sql/analytics/10_data_quality_summary.sql"))
        .orderBy(col("total_records").desc, col("service_type"))
    },
    // ingestion_log sink schema + build path (loader.py:264–333,
    // 01_raw_tables.sql:110–130) over fixed audit entries.
    "tlc_ingestion_log" -> { (s, _) =>
      def ts(iso: String) =
        java.sql.Timestamp.from(java.time.Instant.parse(iso))
      IngestionLog.build(s, Seq(
        IngestionLog.Entry(1L, "yellow_tripdata_2024-06.parquet", "yellow",
          4L, 1.25, "completed", None,
          "0f6b2a6b1ac4e0a4c0b8e1d2f3a4b5c6d7e8f90112233445566778899aabbccd",
          ts("2024-07-01T06:00:00Z")),
        IngestionLog.Entry(2L, "green_tripdata_2024-06.parquet", "green",
          3L, 0.75, "completed", None,
          "1a2b3c4d5e6f708192a3b4c5d6e7f8091a2b3c4d5e6f708192a3b4c5d6e7f809",
          ts("2024-07-01T06:01:30Z")),
        IngestionLog.Entry(3L, "fhvhv_tripdata_2024-06.parquet", "hvfhv",
          3L, 2.5, "completed", None,
          "99aabbccddeeff00112233445566778899aabbccddeeff001122334455667788",
          ts("2024-07-01T06:03:00Z")),
        IngestionLog.Entry(4L, "yellow_tripdata_2024-06.parquet", "yellow",
          0L, 0.5, "skipped", Some("already loaded (idempotency check)"),
          "0f6b2a6b1ac4e0a4c0b8e1d2f3a4b5c6d7e8f90112233445566778899aabbccd",
          ts("2024-07-02T06:00:00Z"))))
        .orderBy("load_sequence_id")
    })

  /** DuckDB oracles for the pipeline demos: the fixture rows are embedded
    * as VALUES literals and the reference's standardization formulas
    * (standardize.py:23–69, 89–132, 167–224 — duration from epoch deltas,
    * 7-addend HVFHV total, validity predicates) are replayed in SQL, then
    * the analytics query is computed over that in-SQL fact table. This
    * upgrades both pipeline gate entries from rows-only to full hash
    * checks of standardize → fact → query.
    */
  private val fixtureCtes =
    """y_raw(p, d, dist, pu, dz, fare, tip, tolls, total) AS (VALUES
         (TIMESTAMP '2024-06-01 10:00:00', TIMESTAMP '2024-06-01 10:15:00', 2.5, 161, 237, 12.5, 2.5, 0.0, 16.3),
         (TIMESTAMP '2024-06-01 11:00:00', TIMESTAMP '2024-06-01 11:20:00', 5.0, 237, 142, 25.0, 5.0, 0.0, 31.3),
         (TIMESTAMP '2024-06-01 12:00:00', TIMESTAMP '2024-06-01 12:30:00', 3.2, 142, 236, 16.0, 0.0, 5.76, 23.06),
         (TIMESTAMP '2024-06-01 13:00:00', TIMESTAMP '2024-06-01 13:10:00', 1.8, 236, 161, 9.5, 2.0, 0.0, 12.8)),
       g_raw(p, d, dist, pu, dz, fare, tip, tolls, total) AS (VALUES
         (TIMESTAMP '2024-06-01 10:00:00', TIMESTAMP '2024-06-01 10:20:00', 3.0, 74, 75, 15.0, 3.0, 0.0, 19.3),
         (TIMESTAMP '2024-06-01 11:00:00', TIMESTAMP '2024-06-01 11:25:00', 4.5, 75, 41, 22.5, 4.5, 0.0, 28.3),
         (TIMESTAMP '2024-06-01 12:00:00', TIMESTAMP '2024-06-01 12:35:00', 2.8, 41, 74, 14.0, 0.0, 5.76, 21.06)),
       h_raw(lic, sreq, p, d, pu, dz, miles, tt, base, tolls, bcf, tax, tips, dpay) AS (VALUES
         ('HV0003', 'N', TIMESTAMP '2024-06-01 10:10:00', TIMESTAMP '2024-06-01 10:25:00', 161, 237, 2.8, 900, 15.5, 0.0, 0.47, 1.37, 3.0, 12.5),
         ('HV0005', 'N', TIMESTAMP '2024-06-01 11:08:00', TIMESTAMP '2024-06-01 11:30:00', 237, 142, 5.2, 1320, 28.0, 0.0, 0.84, 2.48, 5.5, 22.0),
         ('HV0003', 'Y', TIMESTAMP '2024-06-01 12:08:00', TIMESTAMP '2024-06-01 12:40:00', 142, 236, 3.5, 1920, 20.0, 5.76, 0.60, 1.77, 0.0, 16.0)),
       zones(location_id, borough, zone) AS (VALUES
         (1, 'EWR', 'Newark Airport'), (41, 'Queens', 'Flushing'),
         (74, 'Queens', 'Corona'), (75, 'Queens', 'East Elmhurst'),
         (142, 'Manhattan', 'Lincoln Square East'), (161, 'Manhattan', 'Midtown Center'),
         (236, 'Manhattan', 'Upper East Side South'), (237, 'Manhattan', 'Upper West Side South')),
       y2 AS (SELECT p, d, pu, dz, CAST(dist AS DOUBLE) AS dist,
                     CAST(tip AS DOUBLE) AS tip,
                     CAST(total AS DOUBLE) AS total FROM y_raw),
       g2 AS (SELECT p, d, pu, dz, CAST(dist AS DOUBLE) AS dist,
                     CAST(tip AS DOUBLE) AS tip,
                     CAST(total AS DOUBLE) AS total FROM g_raw),
       h2 AS (SELECT lic, sreq, p, d, pu, dz, CAST(miles AS DOUBLE) AS miles,
                     CAST(tt AS DOUBLE) AS tt, CAST(base AS DOUBLE) AS base,
                     CAST(tolls AS DOUBLE) AS tolls, CAST(bcf AS DOUBLE) AS bcf,
                     CAST(tax AS DOUBLE) AS tax, CAST(tips AS DOUBLE) AS tips,
                     CAST(dpay AS DOUBLE) AS dpay FROM h_raw),
       h3 AS (SELECT *,
                     base + tips + tolls + bcf + tax + CAST(2.75 AS DOUBLE) + CAST(0.0 AS DOUBLE) AS htotal
              FROM h2),
       fact AS (
         SELECT 'yellow' AS service_type,
                CAST(NULL AS VARCHAR) AS hvfhs_license_num,
                pu AS pickup_zone_id, dz AS dropoff_zone_id,
                p AS pickup_datetime, d AS dropoff_datetime, CAST(p AS DATE) AS pickup_date,
                CAST(EXTRACT(HOUR FROM p) AS INT) AS pickup_hour,
                dist AS trip_distance_miles,
                (epoch(d) - epoch(p)) / 60.0 AS trip_duration_minutes,
                total AS total_fare, tip AS tips,
                CAST(NULL AS DOUBLE) AS driver_pay,
                CAST(NULL AS DOUBLE) AS take_rate,
                CAST(NULL AS BOOLEAN) AS is_shared_request,
                CAST(NULL AS BOOLEAN) AS is_shared_match,
                total / NULLIF(dist, 0) AS price_per_mile,
                total / NULLIF((epoch(d) - epoch(p)) / 60.0, 0) AS price_per_minute,
                dist / NULLIF((epoch(d) - epoch(p)) / 3600.0, 0) AS avg_speed_mph,
                (total >= 0 AND d > p AND dist >= 0) AS is_valid
         FROM y2
         UNION ALL
         SELECT 'green', CAST(NULL AS VARCHAR), pu, dz, p, d, CAST(p AS DATE),
                CAST(EXTRACT(HOUR FROM p) AS INT), dist,
                (epoch(d) - epoch(p)) / 60.0, total, tip,
                CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN),
                total / NULLIF(dist, 0),
                total / NULLIF((epoch(d) - epoch(p)) / 60.0, 0),
                dist / NULLIF((epoch(d) - epoch(p)) / 3600.0, 0),
                (total >= 0 AND d > p AND dist >= 0)
         FROM g2
         UNION ALL
         SELECT 'hvfhv', lic, pu, dz, p, d, CAST(p AS DATE),
                CAST(EXTRACT(HOUR FROM p) AS INT), miles,
                tt / 60.0,
                htotal, tips,
                dpay,
                (htotal - dpay) / NULLIF(htotal, 0),
                (sreq = 'Y'), ('N' = 'Y'),
                htotal / NULLIF(miles, 0),
                htotal / NULLIF(tt / 60.0, 0),
                miles / NULLIF(tt / 3600.0, 0),
                (base >= 0 AND d > p AND miles >= 0 AND dpay >= 0)
         FROM h3)"""

  private val oraclesBase: Map[String, String] = Map(
    "tlc_pipeline_q01" ->
      s"""WITH $fixtureCtes
          SELECT z.zone AS pickup_zone, z.borough,
                 COUNT(*) AS total_trips,
                 ROUND(SUM(total_fare), 4) AS total_revenue,
                 ROUND(AVG(total_fare), 4) AS avg_fare,
                 ROUND(AVG(trip_distance_miles), 4) AS avg_distance,
                 CAST(SUM(CASE WHEN service_type = 'yellow' THEN 1 ELSE 0 END) AS BIGINT) AS yellow_trips,
                 CAST(SUM(CASE WHEN service_type = 'green' THEN 1 ELSE 0 END) AS BIGINT) AS green_trips,
                 CAST(SUM(CASE WHEN service_type = 'hvfhv' THEN 1 ELSE 0 END) AS BIGINT) AS hvfhv_trips
          FROM fact JOIN zones z ON pickup_zone_id = z.location_id
          WHERE is_valid
          GROUP BY 1, 2
          ORDER BY total_revenue DESC, pickup_zone
          LIMIT 20""",

    "tlc_pipeline_q10" ->
      s"""WITH $fixtureCtes
          SELECT service_type,
                 COUNT(*) AS total_records,
                 CAST(SUM(CASE WHEN is_valid THEN 1 ELSE 0 END) AS BIGINT) AS valid_records,
                 CAST(SUM(CASE WHEN NOT is_valid THEN 1 ELSE 0 END) AS BIGINT) AS invalid_records,
                 ROUND(1e-9 + CAST(SUM(CASE WHEN is_valid THEN 1 ELSE 0 END) AS DOUBLE) * 100.0 / COUNT(*), 2) AS data_quality_pct,
                 CAST(SUM(CASE WHEN total_fare < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_fares,
                 CAST(SUM(CASE WHEN trip_distance_miles < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_distances,
                 CAST(SUM(CASE WHEN trip_duration_minutes < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_durations,
                 CAST(SUM(CASE WHEN dropoff_datetime <= pickup_datetime THEN 1 ELSE 0 END) AS BIGINT) AS invalid_timestamps,
                 CAST(SUM(CASE WHEN avg_speed_mph > 100 THEN 1 ELSE 0 END) AS BIGINT) AS excessive_speeds,
                 CAST(SUM(CASE WHEN pickup_zone_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_pickup_zones,
                 CAST(SUM(CASE WHEN dropoff_zone_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_dropoff_zones,
                 MIN(pickup_date) AS earliest_trip,
                 MAX(pickup_date) AS latest_trip
          FROM fact
          GROUP BY 1
          ORDER BY total_records DESC, service_type""",

    "tlc_pipeline_q02" ->
      s"""WITH $fixtureCtes
          SELECT pickup_hour AS hour,
                 CASE WHEN pickup_hour = 0 THEN '12 AM'
                      WHEN pickup_hour < 12 THEN CAST(pickup_hour AS VARCHAR) || ' AM'
                      WHEN pickup_hour = 12 THEN '12 PM'
                      ELSE CAST(pickup_hour - 12 AS VARCHAR) || ' PM' END AS hour_label,
                 ((pickup_hour BETWEEN 7 AND 9) OR (pickup_hour BETWEEN 16 AND 19)) AS is_peak_hour,
                 CAST(SUM(CASE WHEN service_type = 'yellow' THEN 1 ELSE 0 END) AS BIGINT) AS yellow_trips,
                 CAST(SUM(CASE WHEN service_type = 'green' THEN 1 ELSE 0 END) AS BIGINT) AS green_trips,
                 CAST(SUM(CASE WHEN service_type = 'hvfhv' THEN 1 ELSE 0 END) AS BIGINT) AS hvfhv_trips,
                 COUNT(*) AS total_trips,
                 ROUND(AVG(total_fare), 4) AS avg_fare,
                 ROUND(AVG(trip_duration_minutes), 4) AS avg_duration_minutes
          FROM fact WHERE is_valid
          GROUP BY 1, 2, 3
          ORDER BY hour""",

    "tlc_pipeline_q05" ->
      s"""WITH $fixtureCtes
          SELECT service_type,
                 COUNT(*) AS trip_count,
                 ROUND(AVG(price_per_mile), 4) AS avg_price_per_mile,
                 ROUND(quantile_cont(price_per_mile, 0.5), 4) AS median_price_per_mile,
                 ROUND(AVG(price_per_minute), 4) AS avg_price_per_minute,
                 ROUND(quantile_cont(price_per_minute, 0.5), 4) AS median_price_per_minute,
                 ROUND(AVG(total_fare), 4) AS avg_total_fare,
                 ROUND(AVG(trip_distance_miles), 4) AS avg_trip_distance,
                 ROUND(AVG(trip_duration_minutes), 4) AS avg_trip_duration,
                 ROUND(AVG(tips), 4) AS avg_tips,
                 ROUND(AVG(tips) / AVG(total_fare) * 100, 4) AS avg_tip_percentage
          FROM fact
          WHERE is_valid
            AND price_per_mile BETWEEN 0.5 AND 50
            AND price_per_minute BETWEEN 0.1 AND 10
          GROUP BY 1
          ORDER BY trip_count DESC, service_type""",

    "tlc_pipeline_q09" ->
      s"""WITH $fixtureCtes
          SELECT z.borough,
                 COUNT(*) AS total_trips,
                 CAST(SUM(CASE WHEN service_type = 'yellow' THEN 1 ELSE 0 END) AS BIGINT) AS yellow_trips,
                 CAST(SUM(CASE WHEN service_type = 'green' THEN 1 ELSE 0 END) AS BIGINT) AS green_trips,
                 CAST(SUM(CASE WHEN service_type = 'hvfhv' THEN 1 ELSE 0 END) AS BIGINT) AS hvfhv_trips,
                 ROUND(AVG(total_fare), 4) AS avg_fare,
                 ROUND(AVG(trip_distance_miles), 4) AS avg_distance,
                 ROUND(AVG(trip_duration_minutes), 4) AS avg_duration,
                 ROUND(AVG(price_per_mile), 4) AS avg_price_per_mile,
                 ROUND(SUM(total_fare), 4) AS total_revenue,
                 ROUND(1e-9 + CAST(SUM(CASE WHEN service_type = 'hvfhv' THEN 1 ELSE 0 END) AS DOUBLE) * 100.0
                       / COUNT(*), 2) AS hvfhv_market_share_pct
          FROM fact JOIN zones z ON pickup_zone_id = z.location_id
          WHERE is_valid AND z.borough <> 'Unknown'
          GROUP BY 1
          ORDER BY total_trips DESC, z.borough""",

    "tlc_pipeline_q04" ->
      s"""WITH $fixtureCtes,
          companies(hvfhs_license_num, company_name) AS (VALUES
            ('HV0002', 'Juno'), ('HV0003', 'Uber'),
            ('HV0004', 'Via'), ('HV0005', 'Lyft'))
          SELECT c.company_name,
                 COUNT(*) AS total_trips,
                 ROUND(AVG(take_rate) * 100, 4) AS avg_take_rate_pct,
                 ROUND(AVG(driver_pay), 4) AS avg_driver_pay,
                 ROUND(AVG(total_fare - driver_pay), 4) AS avg_platform_commission,
                 ROUND(SUM(total_fare - driver_pay), 4) AS total_platform_revenue,
                 ROUND(SUM(driver_pay), 4) AS total_driver_pay,
                 ROUND(SUM(total_fare), 4) AS total_gross_revenue,
                 ROUND(quantile_cont(take_rate, 0.25) * 100, 4) AS p25_take_rate_pct,
                 ROUND(quantile_cont(take_rate, 0.5) * 100, 4) AS median_take_rate_pct,
                 ROUND(quantile_cont(take_rate, 0.75) * 100, 4) AS p75_take_rate_pct
          FROM fact
          JOIN companies c USING (hvfhs_license_num)
          WHERE is_valid AND service_type = 'hvfhv'
            AND take_rate BETWEEN 0 AND 1
          GROUP BY 1
          ORDER BY total_trips DESC, c.company_name""",

    "tlc_pipeline_q07" ->
      s"""WITH $fixtureCtes
          SELECT (EXTRACT(DOW FROM pickup_date) IN (0, 6)) AS is_weekend,
                 CASE WHEN EXTRACT(DOW FROM pickup_date) IN (0, 6)
                      THEN 'Weekend' ELSE 'Weekday' END AS day_type,
                 service_type,
                 COUNT(*) AS trip_count,
                 ROUND(AVG(total_fare), 4) AS avg_fare,
                 ROUND(AVG(trip_distance_miles), 4) AS avg_distance,
                 ROUND(AVG(trip_duration_minutes), 4) AS avg_duration,
                 ROUND(AVG(price_per_mile), 4) AS avg_price_per_mile,
                 ROUND(AVG(tips) / AVG(total_fare) * 100, 4) AS avg_tip_percentage,
                 ROUND(SUM(total_fare), 4) AS total_revenue
          FROM fact
          WHERE is_valid
          GROUP BY 1, 2, 3
          ORDER BY is_weekend, trip_count DESC, service_type""",

    "tlc_pipeline_q08" ->
      s"""WITH $fixtureCtes,
          tagged AS (
            SELECT CASE WHEN is_shared_request AND is_shared_match THEN 'Requested & Matched'
                        WHEN is_shared_request AND NOT is_shared_match THEN 'Requested but Not Matched'
                        ELSE 'Not Shared' END AS shared_status,
                   total_fare, trip_distance_miles, price_per_mile, take_rate, driver_pay
            FROM fact WHERE is_valid AND service_type = 'hvfhv'),
          grp AS (
            SELECT shared_status,
                   COUNT(*) AS trip_count,
                   ROUND(AVG(total_fare), 4) AS avg_fare,
                   ROUND(AVG(trip_distance_miles), 4) AS avg_distance,
                   ROUND(AVG(price_per_mile), 4) AS avg_price_per_mile,
                   ROUND(AVG(take_rate) * 100, 4) AS avg_take_rate_pct,
                   ROUND(AVG(driver_pay), 4) AS avg_driver_pay
            FROM tagged GROUP BY 1)
          SELECT shared_status, trip_count,
                 ROUND(1e-9 + trip_count * 100.0 / SUM(trip_count) OVER (), 2) AS percentage,
                 avg_fare, avg_distance, avg_price_per_mile,
                 avg_take_rate_pct, avg_driver_pay
          FROM grp
          ORDER BY trip_count DESC, shared_status""",

    "tlc_ingestion_log" ->
      """SELECT * FROM (VALUES
           (CAST(1 AS BIGINT), 'yellow_tripdata_2024-06.parquet', 'yellow',
            CAST(4 AS BIGINT), CAST(1.25 AS DOUBLE), 'completed',
            CAST(NULL AS VARCHAR),
            '0f6b2a6b1ac4e0a4c0b8e1d2f3a4b5c6d7e8f90112233445566778899aabbccd',
            TIMESTAMP '2024-07-01 06:00:00'),
           (CAST(2 AS BIGINT), 'green_tripdata_2024-06.parquet', 'green',
            CAST(3 AS BIGINT), CAST(0.75 AS DOUBLE), 'completed',
            CAST(NULL AS VARCHAR),
            '1a2b3c4d5e6f708192a3b4c5d6e7f8091a2b3c4d5e6f708192a3b4c5d6e7f809',
            TIMESTAMP '2024-07-01 06:01:30'),
           (CAST(3 AS BIGINT), 'fhvhv_tripdata_2024-06.parquet', 'hvfhv',
            CAST(3 AS BIGINT), CAST(2.5 AS DOUBLE), 'completed',
            CAST(NULL AS VARCHAR),
            '99aabbccddeeff00112233445566778899aabbccddeeff001122334455667788',
            TIMESTAMP '2024-07-01 06:03:00'),
           (CAST(4 AS BIGINT), 'yellow_tripdata_2024-06.parquet', 'yellow',
            CAST(0 AS BIGINT), CAST(0.5 AS DOUBLE), 'skipped',
            'already loaded (idempotency check)',
            '0f6b2a6b1ac4e0a4c0b8e1d2f3a4b5c6d7e8f90112233445566778899aabbccd',
            TIMESTAMP '2024-07-02 06:00:00'))
         t(load_sequence_id, source_file, service_type, row_count,
           load_duration_seconds, status, error_message, file_sha256, loaded_at)
         ORDER BY load_sequence_id""")

  /** The file-driven SQL gates are the same computation over the same
    * fixture warehouse as their DataFrame twins — one oracle checks both. */
  val oracles: Map[String, String] = oraclesBase ++
    Seq("q02", "q04", "q05", "q07", "q08", "q09", "q10")
      .map(n => s"tlc_sql_$n" -> oraclesBase(s"tlc_pipeline_$n")).toMap
}
