package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tlc._

/** Scaled deterministic fixture for the six TLC analytics queries whose
  * HAVING thresholds make them empty on the 10-row conftest fixture
  * (q03 needs the agg_market_share layer ≥10 trips/zone-day; q11 needs ≥10
  * taxi AND ≥10 hvfhv per zone-hour, 11_uber_lyft_vs_taxi_pricing_by_zone_
  * hour.sql:34–35; q14 needs ≥50 trips/zone-day, ≥10 active days and ≥500
  * trips/zone-service, 14_market_share_shift_vs_pricing.sql:46,66,89; q12
  * needs trips both sides of the 2025-01-05 congestion-fee cutover; q13
  * needs multiple months; q06 needs airport-zone traffic).
  *
  * 22,320 trips = 62 days (2024-12-01..2025-01-31) × 6 zones × 4 hours
  * × 3 services × 5 trips, every field derived from the trip index by pure
  * integer arithmetic (an LCG supplies fare/distance/duration noise). The
  * SAME formulas are reproduced verbatim in the DuckDB oracle SQL (the dd2
  * hash-family trick), so the gate hash-checks generation → standardization
  * (standardize.py:23–69,89–132,167–224 replayed) → dims → analytics
  * end-to-end. Double-derived values are obtained with identical expression
  * trees in both engines (CAST(int AS DOUBLE)/100 etc.), so every per-row
  * double is bit-identical; aggregate outputs are rounded (the queries'
  * own ROUNDs plus the gate's 4-digit canonicalization) far above the
  * ~1e-12 summation-order noise.
  *
  * Timestamps are globally unique by construction (minute = service*5+k,
  * second = f(day,zone,hour)), so Standardize's dropDuplicates(trip_id)
  * removes nothing and the SQL replay needs no dedup step.
  */
object TlcScaledDemo extends graft.QueryFamily {
  // ---- Spark-side generator -------------------------------------------

  private def base(s: SparkSession): DataFrame = baseN(s, 1)

  /** `base` generalized to `copies` stacked replicas of the 22,320-trip
    * pattern — tlc.RawGen's scale knob. copies=1 reduces to
    * the EXACT original expression tree (cpy=0, i0=i), so the hash-gated
    * fixture is untouched; copies=K reuses the day/zone/hour/service grid
    * per replica while the LCG noise runs over the FULL index (every copy
    * gets distinct fares/distances/tips) and the second field shifts by the
    * copy index so timestamps spread. Content-hash trip_ids collide only
    * where full (timestamps, zones, distance) rows coincide — both engines
    * dedup the identical set, so cross-engine parity is preserved at any
    * scale. */
  private[graft] def baseN(s: SparkSession, copies: Int): DataFrame =
    s.range(0, 22320L * copies).toDF("i0")
      .selectExpr("i0", "i0 % 22320 AS i", "i0 div 22320 AS cpy")
      .selectExpr(
        "i",
        // 360 trips/day = 6 zones × 4 hours × 3 services × 5 trips, so the
        // 22,320-trip range spans the full 62-day window (2024-12-01..
        // 2025-01-31) with every zone/hour/service cell populated daily —
        // q12's Jan-5 cutover has trips on BOTH sides and q13 sees two
        // months. (A 1440 stride here once compressed the fixture into
        // December only: hashes still matched — the oracle replays the same
        // formula — but the after-period was empty, defeating q12/q13's
        // purpose.)
        "i div 360 AS day",
        "(i div 60) % 6 AS z",
        "(i div 15) % 4 AS h",
        "(i div 5) % 3 AS s_idx",
        "i % 5 AS k",
        "cpy",
        "(i0 * 1103515245 + 12345) % 2147483648 AS r")
      .selectExpr(
        "*",
        "CASE h WHEN 0 THEN 7 WHEN 1 THEN 10 WHEN 2 THEN 18 ELSE 22 END AS hh",
        "s_idx * 5 + k AS mi",
        "(day * 24 + z * 4 + h + cpy) % 60 AS sec",
        "r % 100 AS r1",
        "(r div 100) % 100 AS r2",
        "(r div 10000) % 100 AS r3",
        "(r div 1000000) % 100 AS r4",
        "CASE z WHEN 0 THEN 132 WHEN 1 THEN 161 WHEN 2 THEN 237 WHEN 3 THEN 236 WHEN 4 THEN 74 ELSE 7 END AS zid",
        "CASE (z + 1 + k) % 6 WHEN 0 THEN 132 WHEN 1 THEN 161 WHEN 2 THEN 237 WHEN 3 THEN 236 WHEN 4 THEN 74 ELSE 7 END AS dzid")
      .selectExpr(
        "*",
        "timestamp_seconds(1733011200 + day*86400 + hh*3600 + mi*60 + sec) AS p",
        "timestamp_seconds(1733011200 + day*86400 + hh*3600 + mi*60 + sec + (10 + (r2 % 20))*60) AS d",
        "10 + (r2 % 20) AS dur_min",
        "CAST(150 + (r3 % 350) AS DOUBLE) / 100 AS dist",
        "CAST((CASE WHEN s_idx = 0 THEN 900 ELSE 800 END) + r1*25 + r2*3 AS DOUBLE) / 100 AS fare",
        "CAST(r3 % 500 AS DOUBLE) / 100 AS tip",
        "CASE WHEN r4 % 10 = 0 THEN CAST(6.94 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS tolls",
        "CASE WHEN z = 0 THEN CAST(1.75 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS af_y",
        "1000 + r1*20 + r3*2 AS base_cents",
        "CAST(r3 % 400 AS DOUBLE) / 100 AS tips_h",
        "CAST(r1 % 120 AS DOUBLE) / 100 AS bcf",
        "CAST(r2 % 250 AS DOUBLE) / 100 AS tax",
        "CASE WHEN z = 0 THEN CAST(2.5 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS af_h",
        "CASE WHEN i % 2 = 0 THEN 'HV0003' ELSE 'HV0005' END AS lic",
        "CASE WHEN r2 % 5 = 0 THEN 'Y' ELSE 'N' END AS sreq",
        "CASE WHEN r2 % 10 = 0 THEN 'Y' ELSE 'N' END AS smatch")
      .selectExpr(
        "*",
        "CAST(base_cents AS DOUBLE) / 100 AS base_f",
        "CAST(base_cents * 7 AS DOUBLE) / 1000 AS dpay")

  private def rawYellow(b: DataFrame): DataFrame =
    b.filter(col("s_idx") === 0).selectExpr(
      "p AS tpep_pickup_datetime",
      "d AS tpep_dropoff_datetime",
      "dist AS trip_distance",
      "CAST(zid AS INT) AS PULocationID",
      "CAST(dzid AS INT) AS DOLocationID",
      "fare AS fare_amount",
      "CAST(0.5 AS DOUBLE) AS extra",
      "CAST(0.5 AS DOUBLE) AS mta_tax",
      "tip AS tip_amount",
      "tolls AS tolls_amount",
      "CAST(0.3 AS DOUBLE) AS improvement_surcharge",
      "fare + tip + tolls + CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) + CAST(0.3 AS DOUBLE) + CAST(2.5 AS DOUBLE) + af_y AS total_amount",
      "CAST(2.5 AS DOUBLE) AS congestion_surcharge",
      "af_y AS Airport_fee",
      "'scaled_fixture' AS source_file")

  private def rawGreen(b: DataFrame): DataFrame =
    b.filter(col("s_idx") === 1).selectExpr(
      "p AS lpep_pickup_datetime",
      "d AS lpep_dropoff_datetime",
      "dist AS trip_distance",
      "CAST(zid AS INT) AS PULocationID",
      "CAST(dzid AS INT) AS DOLocationID",
      "fare AS fare_amount",
      "CAST(0.5 AS DOUBLE) AS extra",
      "CAST(0.5 AS DOUBLE) AS mta_tax",
      "tip AS tip_amount",
      "tolls AS tolls_amount",
      "CAST(0.3 AS DOUBLE) AS improvement_surcharge",
      "fare + tip + tolls + CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) + CAST(0.3 AS DOUBLE) + CAST(2.5 AS DOUBLE) AS total_amount",
      "CAST(2.5 AS DOUBLE) AS congestion_surcharge",
      "'scaled_fixture' AS source_file")

  private def rawHvfhv(b: DataFrame): DataFrame =
    b.filter(col("s_idx") === 2).selectExpr(
      "lic AS hvfhs_license_num",
      "p AS pickup_datetime",
      "d AS dropoff_datetime",
      "CAST(zid AS BIGINT) AS PULocationID",
      "CAST(dzid AS BIGINT) AS DOLocationID",
      "dist AS trip_miles",
      "CAST(dur_min * 60 AS BIGINT) AS trip_time",
      "base_f AS base_passenger_fare",
      "CAST(0.0 AS DOUBLE) AS tolls",
      "bcf",
      "tax AS sales_tax",
      "CAST(2.75 AS DOUBLE) AS congestion_surcharge",
      "af_h AS airport_fee",
      "tips_h AS tips",
      "dpay AS driver_pay",
      "sreq AS shared_request_flag",
      "smatch AS shared_match_flag",
      "'scaled_fixture' AS source_file")

  private def rawZones(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (132, "Queens", "JFK Airport", "Airports"),
      (161, "Manhattan", "Midtown Center", "Yellow Zone"),
      (237, "Manhattan", "Upper West Side South", "Yellow Zone"),
      (236, "Manhattan", "Upper East Side South", "Yellow Zone"),
      (74, "Manhattan", "East Harlem North", "Boro Zone"),
      (7, "Queens", "Astoria", "Boro Zone"))
      .toDF("LocationID", "Borough", "Zone", "service_zone")
  }

  // One standardized fact + dims per session; the fact is persisted so the
  // six gate queries share one standardize pass instead of regenerating.
  private val tcache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, TlcTables]()
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Map[String, () => DataFrame]]()

  /** The scaled fixture's RAW service frames + zones, pre-standardize — the
    * e2e Cli test writes these to disk and drives the full load → fact →
    * aggregate → analytics path over real files. */
  private[graft] def rawFixture(s: SparkSession)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = rawFixtureN(s, 1)

  /** Raw frames at `copies`× the fixture scale (baseN's scaladoc); tlc.RawGen
    * writes these to parquet. */
  private[graft] def rawFixtureN(s: SparkSession, copies: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val b = baseN(s, copies)
    (rawYellow(b), rawGreen(b), rawHvfhv(b), rawZones(s))
  }

  /** The scaled fixture's warehouse tables — shared by the DataFrame gates
    * below and the SqlRunner file-driven gates (which register these as
    * temp views). */
  def tables(s: SparkSession): TlcTables =
    tcache.computeIfAbsent(s, { _ =>
      val b = base(s)
      Pipeline.tables(s,
        Standardize.all(rawYellow(b), rawGreen(b), rawHvfhv(b)).persist(), rawZones(s))
    })

  private def analytics(s: SparkSession): Map[String, () => DataFrame] =
    cache.computeIfAbsent(s, { _ =>
      val t = tables(s)
      Analytics.all(t) +
        ("agg_congestion_fee_impact" -> (() => Aggregations.congestionFeeImpact(t.fact)))
    })

  /** Gate-only canonicalization — TlcDemo.round4's contract, tie-stabilized:
    * averages/medians of 2-decimal money values are small-denominator
    * rationals that land exactly on rounding boundaries, where Spark and
    * DuckDB round in opposite directions (Exact.stableRound's scaladoc).
    * Every oracle ROUND below carries the same `1e-9 +` bias. */
  private def round4(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      if (f.dataType == org.apache.spark.sql.types.DoubleType)
        graft.functions.Exact.stableRound(col(f.name), 4).as(f.name)
      else col(f.name)
    }.toSeq: _*)

  val queries: Map[String, Q] = Map(
    "tlc_pipeline_q03" -> { (s, _) =>
      round4(analytics(s)("03_market_share_trends")()).orderBy("date")
    },
    "tlc_pipeline_q06" -> { (s, _) =>
      round4(analytics(s)("06_airport_trips_analysis")())
        .orderBy(col("trip_count").desc, col("trip_type"), col("service_type"))
    },
    "tlc_pipeline_q11" -> { (s, _) =>
      round4(analytics(s)("11_uber_lyft_vs_taxi_pricing")())
        .orderBy("pickup_zone", "hour")
    },
    "tlc_pipeline_q12" -> { (s, _) =>
      round4(analytics(s)("12_cbd_congestion_fee_impact")()).orderBy("service_type")
    },
    "tlc_pipeline_q13" -> { (s, _) =>
      round4(analytics(s)("13_hvfhv_take_rate_variance")())
        .orderBy("year", "month", "company_name")
    },
    "tlc_pipeline_q14" -> { (s, _) =>
      round4(analytics(s)("14_market_share_shift_vs_pricing")())
        .orderBy("zone", "service_type")
    },
    // agg_congestion_fee_impact schema-parity table (04_aggregate_tables
    // .sql:152–182 — declared in the reference DDL, populated by no
    // reference code; see Aggregations.congestionFeeImpact).
    "tlc_agg_congestion" -> { (s, _) =>
      round4(analytics(s)("agg_congestion_fee_impact")())
        .orderBy("service_type", "pickup_zone_id", "time_period")
    },
    // agg_pricing_by_zone_hour (aggregations.py:21–62) — the headline
    // pre-computed aggregate, hash-gated end-to-end since r13's rewire of
    // its five percentile columns through PercentileCont (the DuckDB
    // oracle replays the same generation + standardize + quantile_cont
    // rollup, so the gate checks the mergeable reconstruction
    // against an independent engine's PERCENTILE_CONT on every
    // zone-hour-date cell).
    "tlc_agg_pricing" -> { (s, _) =>
      round4(tlc.Aggregations.pricingByZoneHour(tables(s).fact))
        .orderBy("service_type", "pickup_zone_id", "pickup_hour", "trip_date")
    },
    // File-driven SQL path (reference cli.py:279–297 `run-analytics
    // <file.sql>`): the .sql files under sql/analytics/ execute via
    // SqlRunner over temp views of the same warehouse tables the DataFrame
    // gates use — proving a reference user's SQL runs unchanged through
    // Catalyst and produces the same hash-gated answer.
    "tlc_sql_q01" -> { (s, _) =>
      SqlRunner.registerViews(tables(s))
      round4(SqlRunner.runFile(s, "sql/analytics/01_top_zones_by_revenue.sql"))
    },
    // The scaled-fixture .sql gates share their tlc_pipeline_* twins'
    // oracles, so each applies the twin's canonical ordering: the file's
    // own ORDER BY stays faithful to the reference, the gate re-sorts for
    // the hash compare only.
    "tlc_sql_q03" -> { (s, _) =>
      SqlRunner.registerViews(tables(s))
      round4(SqlRunner.runFile(s, "sql/analytics/03_market_share_trends.sql"))
        .orderBy("date")
    },
    "tlc_sql_q06" -> { (s, _) =>
      SqlRunner.registerViews(tables(s))
      round4(SqlRunner.runFile(s, "sql/analytics/06_airport_trips_analysis.sql"))
        .orderBy(col("trip_count").desc, col("trip_type"), col("service_type"))
    },
    "tlc_sql_q11" -> { (s, _) =>
      SqlRunner.registerViews(tables(s))
      round4(SqlRunner.runFile(s,
        "sql/analytics/11_uber_lyft_vs_taxi_pricing_by_zone_hour.sql"))
        .orderBy("pickup_zone", "hour")
    },
    "tlc_sql_q12" -> { (s, _) =>
      SqlRunner.registerViews(tables(s))
      round4(SqlRunner.runFile(s, "sql/analytics/12_cbd_congestion_fee_impact.sql"))
        .orderBy("service_type")
    },
    "tlc_sql_q13" -> { (s, _) =>
      SqlRunner.registerViews(tables(s))
      round4(SqlRunner.runFile(s,
        "sql/analytics/13_hvfhv_take_rate_variance_analysis.sql"))
    },
    "tlc_sql_q14" -> { (s, _) =>
      SqlRunner.registerViews(tables(s))
      round4(SqlRunner.runFile(s,
        "sql/analytics/14_market_share_shift_vs_pricing.sql"))
        .orderBy("zone", "service_type")
    })

  // ---- DuckDB oracle: generator + standardize replay -------------------

  /** Generator + standardization formulas replayed in SQL (same integer/
    * double expression trees as `base`/`rawYellow`/... above and
    * Standardize.yellow/green/hvfhv). */
  private val scaledCtes =
    """sbase AS (
         SELECT i,
                i // 360 AS day,
                (i // 60) % 6 AS z,
                (i // 15) % 4 AS h,
                (i // 5) % 3 AS s_idx,
                i % 5 AS k,
                (i * 1103515245 + 12345) % 2147483648 AS r
         FROM range(0, 22320) t(i)),
       sb2 AS (
         SELECT *,
                CASE h WHEN 0 THEN 7 WHEN 1 THEN 10 WHEN 2 THEN 18 ELSE 22 END AS hh,
                s_idx * 5 + k AS mi,
                (day * 24 + z * 4 + h) % 60 AS sec,
                r % 100 AS r1,
                (r // 100) % 100 AS r2,
                (r // 10000) % 100 AS r3,
                (r // 1000000) % 100 AS r4,
                CASE z WHEN 0 THEN 132 WHEN 1 THEN 161 WHEN 2 THEN 237 WHEN 3 THEN 236 WHEN 4 THEN 74 ELSE 7 END AS zid,
                CASE (z + 1 + k) % 6 WHEN 0 THEN 132 WHEN 1 THEN 161 WHEN 2 THEN 237 WHEN 3 THEN 236 WHEN 4 THEN 74 ELSE 7 END AS dzid
         FROM sbase),
       sb3 AS (
         SELECT *,
                TIMESTAMP '2024-12-01 00:00:00' + (day*86400 + hh*3600 + mi*60 + sec) * INTERVAL 1 SECOND AS p,
                TIMESTAMP '2024-12-01 00:00:00' + (day*86400 + hh*3600 + mi*60 + sec + (10 + (r2 % 20))*60) * INTERVAL 1 SECOND AS d,
                10 + (r2 % 20) AS dur_min,
                CAST(150 + (r3 % 350) AS DOUBLE) / 100 AS dist,
                CAST((CASE WHEN s_idx = 0 THEN 900 ELSE 800 END) + r1*25 + r2*3 AS DOUBLE) / 100 AS fare,
                CAST(r3 % 500 AS DOUBLE) / 100 AS tip,
                CASE WHEN r4 % 10 = 0 THEN CAST(6.94 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS tolls,
                CASE WHEN z = 0 THEN CAST(1.75 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS af_y,
                1000 + r1*20 + r3*2 AS base_cents,
                CAST(r3 % 400 AS DOUBLE) / 100 AS tips_h,
                CAST(r1 % 120 AS DOUBLE) / 100 AS bcf,
                CAST(r2 % 250 AS DOUBLE) / 100 AS tax,
                CASE WHEN z = 0 THEN CAST(2.5 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS af_h,
                CASE WHEN i % 2 = 0 THEN 'HV0003' ELSE 'HV0005' END AS lic,
                CASE WHEN r2 % 5 = 0 THEN 'Y' ELSE 'N' END AS sreq,
                CASE WHEN r2 % 10 = 0 THEN 'Y' ELSE 'N' END AS smatch
         FROM sb2),
       sb4 AS (
         SELECT *,
                CAST(base_cents AS DOUBLE) / 100 AS base_f,
                CAST(base_cents * 7 AS DOUBLE) / 1000 AS dpay
         FROM sb3),
       zones(location_id, borough, zone, service_zone) AS (VALUES
         (132, 'Queens', 'JFK Airport', 'Airports'),
         (161, 'Manhattan', 'Midtown Center', 'Yellow Zone'),
         (237, 'Manhattan', 'Upper West Side South', 'Yellow Zone'),
         (236, 'Manhattan', 'Upper East Side South', 'Yellow Zone'),
         (74, 'Manhattan', 'East Harlem North', 'Boro Zone'),
         (7, 'Queens', 'Astoria', 'Boro Zone')),
       companies(hvfhs_license_num, company_name) AS (VALUES
         ('HV0003', 'Uber'), ('HV0005', 'Lyft')),
       y1 AS (SELECT *, fare + tip + tolls + CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) + CAST(0.3 AS DOUBLE) + CAST(2.5 AS DOUBLE) + af_y AS total
              FROM sb4 WHERE s_idx = 0),
       g1 AS (SELECT *, fare + tip + tolls + CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) + CAST(0.3 AS DOUBLE) + CAST(2.5 AS DOUBLE) AS total
              FROM sb4 WHERE s_idx = 1),
       h1 AS (SELECT *, base_f + tips_h + CAST(0.0 AS DOUBLE) + bcf + tax + CAST(2.75 AS DOUBLE) + af_h AS total
              FROM sb4 WHERE s_idx = 2),
       fact AS (
         SELECT 'yellow' AS service_type,
                CAST(NULL AS VARCHAR) AS hvfhs_license_num,
                p AS pickup_datetime, d AS dropoff_datetime,
                CAST(p AS DATE) AS pickup_date,
                CAST(EXTRACT(HOUR FROM p) AS INT) AS pickup_hour,
                zid AS pickup_zone_id, dzid AS dropoff_zone_id,
                dist AS trip_distance_miles,
                (epoch(d) - epoch(p)) / 60.0 AS trip_duration_minutes,
                fare AS base_fare, tip AS tips, tolls,
                (CAST(0.5 AS DOUBLE) + CAST(0.3 AS DOUBLE)) + CAST(2.5 AS DOUBLE) AS surcharges,
                af_y AS airport_fee,
                total AS total_fare,
                CAST(NULL AS DOUBLE) AS driver_pay,
                CAST(NULL AS DOUBLE) AS take_rate,
                total / dist AS price_per_mile,
                total / ((epoch(d) - epoch(p)) / 60.0) AS price_per_minute,
                dist / (((epoch(d) - epoch(p)) / 60.0) / 60.0) AS avg_speed_mph,
                CAST(NULL AS BOOLEAN) AS is_shared_request,
                CAST(NULL AS BOOLEAN) AS is_shared_match,
                (total >= 0 AND d > p AND dist >= 0) AS is_valid
         FROM y1
         UNION ALL
         SELECT 'green', CAST(NULL AS VARCHAR), p, d, CAST(p AS DATE),
                CAST(EXTRACT(HOUR FROM p) AS INT), zid, dzid, dist,
                (epoch(d) - epoch(p)) / 60.0,
                fare, tip, tolls,
                (CAST(0.5 AS DOUBLE) + CAST(0.3 AS DOUBLE)) + CAST(2.5 AS DOUBLE),
                CAST(NULL AS DOUBLE),
                total,
                CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                total / dist,
                total / ((epoch(d) - epoch(p)) / 60.0),
                dist / (((epoch(d) - epoch(p)) / 60.0) / 60.0),
                CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN),
                (total >= 0 AND d > p AND dist >= 0)
         FROM g1
         UNION ALL
         SELECT 'hvfhv', lic, p, d, CAST(p AS DATE),
                CAST(EXTRACT(HOUR FROM p) AS INT), zid, dzid, dist,
                (dur_min * 60) / 60.0,
                base_f, tips_h, CAST(0.0 AS DOUBLE),
                bcf + CAST(2.75 AS DOUBLE),
                af_h,
                total, dpay,
                (total - dpay) / total,
                total / dist,
                total / ((dur_min * 60) / 60.0),
                dist / ((dur_min * 60) / 3600.0),
                (sreq = 'Y'), (smatch = 'Y'),
                (base_f >= 0 AND d > p AND dist >= 0 AND dpay >= 0)
         FROM h1)"""

  private val oraclesBase: Map[String, String] = Map(
    // q03: agg_market_share (aggregations.py:131–163) replayed, re-agged to
    // daily, joined to the date dim (03_market_share_trends.sql).
    "tlc_pipeline_q03" ->
      s"""WITH $scaledCtes,
          ams AS (
            SELECT pickup_date AS trip_date, pickup_zone_id,
                   SUM(CASE WHEN service_type = 'yellow' THEN 1 ELSE 0 END) AS yellow_trips,
                   SUM(CASE WHEN service_type = 'green' THEN 1 ELSE 0 END) AS green_trips,
                   SUM(CASE WHEN service_type = 'hvfhv' THEN 1 ELSE 0 END) AS hvfhv_trips,
                   COUNT(*) AS total_trips,
                   CAST(SUM(CASE WHEN service_type = 'yellow' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS yellow_share,
                   CAST(SUM(CASE WHEN service_type = 'green' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS green_share,
                   CAST(SUM(CASE WHEN service_type = 'hvfhv' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS hvfhv_share,
                   SUM(CASE WHEN service_type = 'yellow' THEN total_fare ELSE 0 END) AS yellow_total_revenue,
                   SUM(CASE WHEN service_type = 'green' THEN total_fare ELSE 0 END) AS green_total_revenue,
                   SUM(CASE WHEN service_type = 'hvfhv' THEN total_fare ELSE 0 END) AS hvfhv_total_revenue,
                   SUM(total_fare) AS total_revenue
            FROM fact WHERE is_valid
            GROUP BY 1, 2
            HAVING COUNT(*) >= 10),
          daily AS (
            SELECT trip_date,
                   SUM(total_trips) AS total_trips,
                   SUM(yellow_trips) AS yellow_trips,
                   SUM(green_trips) AS green_trips,
                   SUM(hvfhv_trips) AS hvfhv_trips,
                   AVG(yellow_share) AS yellow_share,
                   AVG(green_share) AS green_share,
                   AVG(hvfhv_share) AS hvfhv_share,
                   SUM(total_revenue) AS total_revenue,
                   CASE WHEN SUM(total_revenue) <> 0 THEN SUM(yellow_total_revenue) / SUM(total_revenue) END AS yellow_revenue_share,
                   CASE WHEN SUM(total_revenue) <> 0 THEN SUM(green_total_revenue) / SUM(total_revenue) END AS green_revenue_share,
                   CASE WHEN SUM(total_revenue) <> 0 THEN SUM(hvfhv_total_revenue) / SUM(total_revenue) END AS hvfhv_revenue_share
            FROM ams GROUP BY 1)
          SELECT trip_date AS "date",
                 CASE EXTRACT(MONTH FROM trip_date) WHEN 12 THEN 'December' ELSE 'January' END AS month_name,
                 CAST(EXTRACT(YEAR FROM trip_date) AS INT) AS "year",
                 CAST(total_trips AS BIGINT) AS total_trips,
                 CAST(yellow_trips AS BIGINT) AS yellow_trips,
                 CAST(green_trips AS BIGINT) AS green_trips,
                 CAST(hvfhv_trips AS BIGINT) AS hvfhv_trips,
                 ROUND(1e-9 + yellow_share * 100, 2) + 0.0 AS yellow_share_pct,
                 ROUND(1e-9 + green_share * 100, 2) + 0.0 AS green_share_pct,
                 ROUND(1e-9 + hvfhv_share * 100, 2) + 0.0 AS hvfhv_share_pct,
                 ROUND(1e-9 + total_revenue, 4) + 0.0 AS total_revenue,
                 ROUND(1e-9 + yellow_revenue_share * 100, 2) + 0.0 AS yellow_revenue_share_pct,
                 ROUND(1e-9 + green_revenue_share * 100, 2) + 0.0 AS green_revenue_share_pct,
                 ROUND(1e-9 + hvfhv_revenue_share * 100, 2) + 0.0 AS hvfhv_revenue_share_pct
          FROM daily ORDER BY "date"""",

    // q06: double zone-dim join, airport trip typing
    // (06_airport_trips_analysis.sql:19–20).
    "tlc_pipeline_q06" ->
      s"""WITH $scaledCtes,
          j AS (
            SELECT f.*, zp.service_zone AS pu_sz, zd.service_zone AS do_sz
            FROM fact f
            JOIN zones zp ON f.pickup_zone_id = zp.location_id
            JOIN zones zd ON f.dropoff_zone_id = zd.location_id
            WHERE f.is_valid AND (zp.service_zone = 'Airports' OR zd.service_zone = 'Airports')),
          tt AS (
            SELECT CASE WHEN pu_sz = 'Airports' THEN 'From Airport'
                        WHEN do_sz = 'Airports' THEN 'To Airport'
                        ELSE 'Other' END AS trip_type,
                   service_type, trip_distance_miles, trip_duration_minutes,
                   total_fare, airport_fee, price_per_mile
            FROM j)
          SELECT trip_type, service_type,
                 COUNT(*) AS trip_count,
                 ROUND(1e-9 + AVG(trip_distance_miles), 4) + 0.0 AS avg_distance,
                 ROUND(1e-9 + AVG(trip_duration_minutes), 4) + 0.0 AS avg_duration,
                 ROUND(1e-9 + AVG(total_fare), 4) + 0.0 AS avg_fare,
                 ROUND(1e-9 + AVG(airport_fee), 4) + 0.0 AS avg_airport_fee,
                 ROUND(1e-9 + SUM(airport_fee), 4) + 0.0 AS total_airport_fees,
                 ROUND(1e-9 + AVG(price_per_mile), 4) + 0.0 AS avg_price_per_mile
          FROM tt GROUP BY 1, 2
          ORDER BY trip_count DESC, trip_type, service_type""",

    // q11: conditional medians taxi vs hvfhv per zone-hour, two-sided HAVING
    // (11_uber_lyft_vs_taxi_pricing_by_zone_hour.sql:34–35).
    "tlc_pipeline_q11" ->
      s"""WITH $scaledCtes,
          j AS (
            SELECT z.zone AS pickup_zone, z.borough,
                   f.pickup_hour AS hour,
                   CASE WHEN f.pickup_hour = 0 THEN '12 AM'
                        WHEN f.pickup_hour < 12 THEN CAST(f.pickup_hour AS VARCHAR) || ' AM'
                        WHEN f.pickup_hour = 12 THEN '12 PM'
                        ELSE CAST(f.pickup_hour - 12 AS VARCHAR) || ' PM' END AS hour_label,
                   ((f.pickup_hour BETWEEN 7 AND 9) OR (f.pickup_hour BETWEEN 16 AND 19)) AS is_peak_hour,
                   CASE WHEN f.service_type IN ('yellow', 'green') THEN f.price_per_mile END AS taxi_ppm,
                   CASE WHEN f.service_type IN ('yellow', 'green') THEN f.price_per_minute END AS taxi_ppmin,
                   CASE WHEN f.service_type = 'hvfhv' THEN f.price_per_mile END AS hv_ppm,
                   CASE WHEN f.service_type = 'hvfhv' THEN f.price_per_minute END AS hv_ppmin
            FROM fact f JOIN zones z ON f.pickup_zone_id = z.location_id
            WHERE f.is_valid
              AND f.price_per_mile BETWEEN 0.5 AND 50
              AND f.price_per_minute BETWEEN 0.1 AND 10
              AND z.borough <> 'Unknown'),
          g AS (
            SELECT pickup_zone, borough, hour, hour_label, is_peak_hour,
                   quantile_cont(taxi_ppm, 0.5) AS tmpm,
                   quantile_cont(taxi_ppmin, 0.5) AS tmpmin,
                   COUNT(taxi_ppm) AS taxi_trip_count,
                   quantile_cont(hv_ppm, 0.5) AS hmpm,
                   quantile_cont(hv_ppmin, 0.5) AS hmpmin,
                   COUNT(hv_ppm) AS hvfhv_trip_count
            FROM j GROUP BY 1, 2, 3, 4, 5
            HAVING COUNT(taxi_ppm) >= 10 AND COUNT(hv_ppm) >= 10)
          SELECT pickup_zone, borough, hour, hour_label, is_peak_hour,
                 ROUND(1e-9 + tmpm, 2) + 0.0 AS taxi_price_per_mile,
                 ROUND(1e-9 + tmpmin, 2) + 0.0 AS taxi_price_per_minute,
                 taxi_trip_count,
                 ROUND(1e-9 + hmpm, 2) + 0.0 AS hvfhv_price_per_mile,
                 ROUND(1e-9 + hmpmin, 2) + 0.0 AS hvfhv_price_per_minute,
                 hvfhv_trip_count,
                 ROUND(1e-9 + hmpm - tmpm, 2) + 0.0 AS price_diff_per_mile,
                 ROUND(1e-9 + hmpmin - tmpmin, 2) + 0.0 AS price_diff_per_minute,
                 ROUND(1e-9 + (CASE WHEN tmpm <> 0 THEN (hmpm - tmpm) / tmpm END) * 100, 1) + 0.0 AS price_diff_pct_per_mile,
                 ROUND(1e-9 + (CASE WHEN tmpmin <> 0 THEN (hmpmin - tmpmin) / tmpmin END) * 100, 1) + 0.0 AS price_diff_pct_per_minute,
                 CASE WHEN (CASE WHEN tmpm <> 0 THEN (hmpm - tmpm) / tmpm END) > 0.10 THEN 'YES - HVFHV Higher'
                      WHEN (CASE WHEN tmpm <> 0 THEN (hmpm - tmpm) / tmpm END) < -0.10 THEN 'NO - Taxi Higher'
                      ELSE 'Similar' END AS pricing_verdict
          FROM g
          ORDER BY pickup_zone, hour""",

    // q12: CBD semi-join zone set + before/after self-join around the
    // 2025-01-05 fee date (12_cbd_congestion_fee_impact.sql:94–99).
    "tlc_pipeline_q12" ->
      s"""WITH $scaledCtes,
          scoped AS (
            SELECT f.*,
                   CASE WHEN f.pickup_date < DATE '2025-01-05' THEN 'Before Jan 5, 2025'
                        WHEN f.pickup_date >= DATE '2025-01-05' THEN 'After Jan 5, 2025' END AS prd
            FROM fact f
            WHERE f.is_valid
              AND f.pickup_zone_id IN (
                SELECT location_id FROM zones
                WHERE borough = 'Manhattan' AND service_zone IN ('Yellow Zone', 'Boro Zone'))
              AND f.pickup_date BETWEEN DATE '2024-12-01' AND DATE '2025-01-31'),
          byp AS (
            SELECT prd, service_type,
                   COUNT(*) AS trip_count,
                   quantile_cont(total_fare, 0.5) AS median_total_fare,
                   CAST(ROUND(SUM(CAST(price_per_mile AS DECIMAL(30,8))), 4) AS DOUBLE) / COUNT(price_per_mile) AS avg_ppm,
                   CAST(ROUND(SUM(CAST(surcharges AS DECIMAL(30,8))), 4) AS DOUBLE) / COUNT(surcharges) AS avg_surch,
                   CAST(ROUND(SUM(CAST(CASE WHEN service_type = 'hvfhv' THEN driver_pay END AS DECIMAL(30,8))), 4) AS DOUBLE)
                     / COUNT(CASE WHEN service_type = 'hvfhv' THEN driver_pay END) AS avg_dp,
                   CAST(ROUND(SUM(CAST(CASE WHEN service_type = 'hvfhv' THEN take_rate END AS DECIMAL(30,8))), 4) AS DOUBLE)
                     / COUNT(CASE WHEN service_type = 'hvfhv' THEN take_rate END) * 100 AS avg_tr
            FROM scoped GROUP BY 1, 2),
          before_p AS (
            SELECT service_type, trip_count AS trips_before,
                   median_total_fare AS b_median_fare, avg_ppm AS b_ppm,
                   avg_surch AS b_surch, avg_dp AS b_dp, avg_tr AS b_tr
            FROM byp WHERE prd = 'Before Jan 5, 2025'),
          after_p AS (
            SELECT service_type, trip_count AS trips_after,
                   median_total_fare AS a_median_fare, avg_ppm AS a_ppm,
                   avg_surch AS a_surch, avg_dp AS a_dp, avg_tr AS a_tr
            FROM byp WHERE prd = 'After Jan 5, 2025')
          SELECT b.service_type,
                 b.trips_before,
                 ROUND(1e-9 + b.b_median_fare, 2) + 0.0 AS median_fare_before,
                 ROUND(1e-9 + b.b_ppm, 2) + 0.0 AS price_per_mile_before,
                 ROUND(1e-9 + b.b_surch, 2) + 0.0 AS avg_surcharges_before,
                 ROUND(1e-9 + b.b_dp, 2) + 0.0 AS driver_pay_before,
                 ROUND(1e-9 + b.b_tr, 1) + 0.0 AS take_rate_pct_before,
                 a.trips_after,
                 ROUND(1e-9 + a.a_median_fare, 2) + 0.0 AS median_fare_after,
                 ROUND(1e-9 + a.a_ppm, 2) + 0.0 AS price_per_mile_after,
                 ROUND(1e-9 + a.a_surch, 2) + 0.0 AS avg_surcharges_after,
                 ROUND(1e-9 + a.a_dp, 2) + 0.0 AS driver_pay_after,
                 ROUND(1e-9 + a.a_tr, 1) + 0.0 AS take_rate_pct_after,
                 ROUND(1e-9 + a.a_median_fare - b.b_median_fare, 2) + 0.0 AS fare_change_dollars,
                 ROUND(1e-9 + a.a_ppm - b.b_ppm, 2) + 0.0 AS price_per_mile_change,
                 ROUND(1e-9 + a.a_surch - b.b_surch, 2) + 0.0 AS surcharge_change,
                 ROUND(1e-9 + a.a_dp - b.b_dp, 2) + 0.0 AS driver_pay_change,
                 ROUND(1e-9 + a.a_tr - b.b_tr, 1) + 0.0 AS take_rate_change_pct,
                 ROUND(1e-9 + (CASE WHEN b.b_median_fare <> 0 THEN (a.a_median_fare - b.b_median_fare) / b.b_median_fare END) * 100, 1) + 0.0 AS fare_change_pct,
                 ROUND(1e-9 + (CASE WHEN b.b_surch <> 0 THEN (a.a_surch - b.b_surch) / b.b_surch END) * 100, 1) + 0.0 AS surcharge_change_pct,
                 CASE WHEN b.service_type = 'hvfhv' THEN
                        CASE WHEN a.a_tr - b.b_tr > 1 THEN 'Platform kept more (driver absorbed fee)'
                             WHEN a.a_tr - b.b_tr < -1 THEN 'Driver got more (platform absorbed fee)'
                             ELSE 'Passed to rider' END
                      ELSE 'N/A - Traditional Taxi' END AS fee_absorption_pattern
          FROM before_p b LEFT JOIN after_p a ON b.service_type = a.service_type
          ORDER BY b.service_type""",

    // q13: monthly take-rate distribution per company with IQR
    // (13_hvfhv_take_rate_variance_analysis.sql).
    "tlc_pipeline_q13" ->
      s"""WITH $scaledCtes,
          hv AS (
            SELECT f.take_rate, c.company_name,
                   CAST(EXTRACT(YEAR FROM f.pickup_date) AS INT) AS yr,
                   CAST(EXTRACT(MONTH FROM f.pickup_date) AS INT) AS mo,
                   CASE EXTRACT(MONTH FROM f.pickup_date) WHEN 12 THEN 'December' ELSE 'January' END AS month_name
            FROM fact f JOIN companies c ON f.hvfhs_license_num = c.hvfhs_license_num
            WHERE f.is_valid AND f.service_type = 'hvfhv'
              AND f.take_rate BETWEEN 0 AND 1)
          SELECT yr AS "year", mo AS "month", month_name, company_name,
                 COUNT(*) AS trip_count,
                 ROUND(1e-9 + quantile_cont(take_rate, 0.25) * 100, 4) + 0.0 AS p25_take_rate,
                 ROUND(1e-9 + quantile_cont(take_rate, 0.5) * 100, 4) + 0.0 AS median_take_rate,
                 ROUND(1e-9 + quantile_cont(take_rate, 0.75) * 100, 4) + 0.0 AS p75_take_rate,
                 ROUND(1e-9 + AVG(take_rate) * 100, 4) + 0.0 AS avg_take_rate,
                 ROUND(1e-9 + stddev(take_rate) * 100, 4) + 0.0 AS stddev_take_rate,
                 ROUND(1e-9 + (quantile_cont(take_rate, 0.75) - quantile_cont(take_rate, 0.25)) * 100, 4) + 0.0 AS iqr_take_rate
          FROM hv GROUP BY 1, 2, 3, 4
          ORDER BY "year", "month", company_name""",

    // q14: five chained CTEs, scalar-subquery quartile dates, zone window
    // (14_market_share_shift_vs_pricing.sql:46,66,70–79,89).
    "tlc_pipeline_q14" ->
      s"""WITH $scaledCtes,
          dz AS (
            SELECT f.pickup_date, z.zone, z.borough, f.service_type,
                   COUNT(*) AS trip_count,
                   AVG(f.price_per_mile) AS avg_price_per_mile,
                   SUM(f.total_fare) AS total_revenue
            FROM fact f JOIN zones z ON f.pickup_zone_id = z.location_id
            WHERE f.is_valid AND f.price_per_mile BETWEEN 0.5 AND 50
              AND z.borough <> 'Unknown'
            GROUP BY 1, 2, 3, 4),
          tot AS (
            SELECT pickup_date, zone, SUM(trip_count) AS total_trips
            FROM dz GROUP BY 1, 2),
          ws AS (
            SELECT dz.*, t.total_trips,
                   ROUND(1e-9 + (CAST(dz.trip_count AS DOUBLE) * 100.0) / t.total_trips, 2) + 0.0 AS market_share_pct,
                   ROUND(1e-9 + dz.avg_price_per_mile, 2) + 0.0 AS ppm_r,
                   date_diff('day', DATE '1970-01-01', dz.pickup_date) AS dd
            FROM dz JOIN tot t ON dz.pickup_date = t.pickup_date AND dz.zone = t.zone
            WHERE t.total_trips >= 50),
          q AS (
            SELECT quantile_cont(dd, 0.25) AS q25, quantile_cont(dd, 0.75) AS q75
            FROM ws),
          ch AS (
            SELECT zone, borough, service_type,
                   AVG(CASE WHEN dd <= q25 THEN market_share_pct END) AS early_share,
                   AVG(CASE WHEN dd <= q25 THEN ppm_r END) AS early_price,
                   AVG(CASE WHEN dd >= q75 THEN market_share_pct END) AS late_share,
                   AVG(CASE WHEN dd >= q75 THEN ppm_r END) AS late_price,
                   AVG(market_share_pct) AS avg_share,
                   AVG(ppm_r) AS avg_price,
                   COUNT(DISTINCT pickup_date) AS days_active,
                   SUM(trip_count) AS total_trips
            FROM ws CROSS JOIN q
            GROUP BY 1, 2, 3
            HAVING COUNT(DISTINCT pickup_date) >= 10),
          wz AS (
            SELECT ch.*, AVG(avg_price) OVER (PARTITION BY zone) AS zone_avg
            FROM ch),
          lab AS (
            SELECT wz.*,
                   CASE WHEN late_share - early_share > 5 THEN 'Gaining Share'
                        WHEN late_share - early_share < -5 THEN 'Losing Share'
                        ELSE 'Stable' END AS share_trend,
                   CASE WHEN avg_price > zone_avg * 1.1 THEN 'Premium Priced'
                        WHEN avg_price < zone_avg * 0.9 THEN 'Discount Priced'
                        ELSE 'Market Priced' END AS pricing_position
            FROM wz
            WHERE total_trips >= 500)
          SELECT zone, borough, service_type,
                 ROUND(1e-9 + early_share, 1) + 0.0 AS early_share_pct,
                 ROUND(1e-9 + late_share, 1) + 0.0 AS late_share_pct,
                 ROUND(1e-9 + late_share - early_share, 2) + 0.0 AS share_change_pct,
                 share_trend,
                 ROUND(1e-9 + early_price, 2) + 0.0 AS early_price_per_mile,
                 ROUND(1e-9 + late_price, 2) + 0.0 AS late_price_per_mile,
                 ROUND(1e-9 + late_price - early_price, 2) + 0.0 AS price_change_dollars,
                 ROUND(1e-9 + (CASE WHEN early_price <> 0 THEN (late_price - early_price) / early_price END) * 100, 1) + 0.0 AS price_change_pct,
                 pricing_position,
                 ROUND(1e-9 + avg_price - zone_avg, 2) + 0.0 AS price_premium_vs_zone,
                 CAST(total_trips AS BIGINT) AS total_trips,
                 CAST(days_active AS BIGINT) AS days_active,
                 CASE WHEN share_trend = 'Gaining Share' AND pricing_position = 'Discount Priced' THEN 'Gaining via Lower Price'
                      WHEN share_trend = 'Gaining Share' AND pricing_position = 'Premium Priced' THEN 'Gaining Despite Higher Price (Quality/Service)'
                      WHEN share_trend = 'Losing Share' AND pricing_position = 'Premium Priced' THEN 'Losing due to High Price'
                      WHEN share_trend = 'Losing Share' AND pricing_position = 'Discount Priced' THEN 'Losing Despite Low Price (Quality Issues?)'
                      ELSE 'Stable Market' END AS competitive_insight
          FROM lab
          ORDER BY zone, service_type""",

    // agg_pricing_by_zone_hour replay (aggregations.py:21–62): counts,
    // averages, sums and the five PERCENTILE_CONT columns per
    // (service, zone, hour, date) cell — quantile_cont on the DuckDB side
    // vs the PercentileCont reconstruction on the Spark side.
    "tlc_agg_pricing" ->
      s"""WITH $scaledCtes,
          pre AS (
            SELECT service_type, pickup_zone_id, pickup_hour,
                   pickup_date AS trip_date,
                   is_valid, trip_distance_miles, trip_duration_minutes,
                   price_per_mile, price_per_minute, total_fare
            FROM fact
            WHERE is_valid
              AND price_per_mile IS NOT NULL
              AND price_per_mile BETWEEN 0.5 AND 50)
          SELECT service_type,
                 CAST(pickup_zone_id AS INTEGER) AS pickup_zone_id,
                 pickup_hour, trip_date,
                 COUNT(*) AS trip_count,
                 CAST(SUM(CASE WHEN is_valid THEN 1 ELSE 0 END) AS BIGINT)
                   AS valid_trip_count,
                 ROUND(1e-9 + AVG(trip_distance_miles), 4) + 0.0 AS avg_trip_distance,
                 ROUND(1e-9 + quantile_cont(trip_distance_miles, 0.5), 4) + 0.0
                   AS median_trip_distance,
                 ROUND(1e-9 + SUM(trip_distance_miles), 4) + 0.0 AS total_trip_miles,
                 ROUND(1e-9 + AVG(trip_duration_minutes), 4) + 0.0 AS avg_trip_duration,
                 ROUND(1e-9 + quantile_cont(trip_duration_minutes, 0.5), 4) + 0.0
                   AS median_trip_duration,
                 ROUND(1e-9 + AVG(price_per_mile), 4) + 0.0 AS avg_price_per_mile,
                 ROUND(1e-9 + AVG(price_per_minute), 4) + 0.0 AS avg_price_per_minute,
                 ROUND(1e-9 + AVG(total_fare), 4) + 0.0 AS avg_total_fare,
                 ROUND(1e-9 + quantile_cont(total_fare, 0.5), 4) + 0.0
                   AS median_total_fare,
                 ROUND(1e-9 + SUM(total_fare), 4) + 0.0 AS total_revenue,
                 CAST(0 AS INTEGER) AS trips_with_cbd_fee,
                 CAST(0 AS INTEGER) AS avg_cbd_fee,
                 CAST(0 AS INTEGER) AS total_cbd_fee,
                 ROUND(1e-9 + quantile_cont(price_per_mile, 0.5), 4) + 0.0
                   AS median_price_per_mile,
                 ROUND(1e-9 + quantile_cont(price_per_mile, 0.25), 4) + 0.0
                   AS p25_price_per_mile,
                 ROUND(1e-9 + quantile_cont(price_per_mile, 0.75), 4) + 0.0
                   AS p75_price_per_mile,
                 ROUND(1e-9 + quantile_cont(price_per_minute, 0.5), 4) + 0.0
                   AS median_price_per_minute,
                 ROUND(1e-9 + quantile_cont(price_per_minute, 0.25), 4) + 0.0
                   AS p25_price_per_minute,
                 ROUND(1e-9 + quantile_cont(price_per_minute, 0.75), 4) + 0.0
                   AS p75_price_per_minute
          FROM pre
          GROUP BY 1, 2, 3, 4
          ORDER BY service_type, pickup_zone_id, pickup_hour, trip_date""",

    // agg_congestion_fee_impact replay (04_aggregate_tables.sql:152–182;
    // cbd-fee columns stubbed 0 per aggregations.py:53–55's drift-pending
    // convention, mirrored in Aggregations.congestionFeeImpact).
    "tlc_agg_congestion" ->
      s"""WITH $scaledCtes,
          scoped AS (
            SELECT *,
                   CASE WHEN pickup_date < DATE '2025-01-05' THEN 'before'
                        ELSE 'after' END AS time_period
            FROM fact
            WHERE is_valid
              AND pickup_date BETWEEN DATE '2024-12-01' AND DATE '2025-01-31'),
          base AS (
            SELECT service_type,
                   CAST(pickup_zone_id AS INTEGER) AS pickup_zone_id,
                   time_period,
                   MIN(pickup_date) AS start_date,
                   MAX(pickup_date) AS end_date,
                   COUNT(*) AS trip_count,
                   CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT pickup_date) AS avg_trips_per_day,
                   AVG(total_fare) AS avg_total_fare,
                   quantile_cont(total_fare, 0.5) AS median_total_fare,
                   AVG(price_per_mile) AS avg_price_per_mile,
                   quantile_cont(price_per_mile, 0.5) AS median_price_per_mile
            FROM scoped GROUP BY 1, 2, 3),
          w AS (
            SELECT *,
                   avg_total_fare AS avg_fare_excluding_cbd_fee,
                   MAX(CASE WHEN time_period = 'before' THEN avg_total_fare END)
                     OVER (PARTITION BY service_type, pickup_zone_id) AS before_excl
            FROM base)
          SELECT service_type, pickup_zone_id, time_period,
                 start_date, end_date,
                 CAST(trip_count AS BIGINT) AS trip_count,
                 ROUND(1e-9 + avg_trips_per_day, 4) + 0.0 AS avg_trips_per_day,
                 ROUND(1e-9 + avg_total_fare, 4) + 0.0 AS avg_total_fare,
                 ROUND(1e-9 + median_total_fare, 4) + 0.0 AS median_total_fare,
                 ROUND(1e-9 + avg_price_per_mile, 4) + 0.0 AS avg_price_per_mile,
                 ROUND(1e-9 + median_price_per_mile, 4) + 0.0 AS median_price_per_mile,
                 CAST(0 AS BIGINT) AS trips_with_cbd_fee,
                 ROUND(1e-9 + 0.0, 4) AS cbd_fee_adoption_rate,
                 ROUND(1e-9 + 0.0, 4) AS avg_cbd_fee,
                 ROUND(1e-9 + 0.0, 4) AS total_cbd_fee_collected,
                 ROUND(1e-9 + avg_total_fare, 4) + 0.0 AS avg_fare_excluding_cbd_fee,
                 ROUND(1e-9 + CASE WHEN time_period = 'after'
                                   THEN avg_fare_excluding_cbd_fee - before_excl END, 4)
                   + 0.0 AS fare_increase_excl_cbd
          FROM w
          ORDER BY service_type, pickup_zone_id, time_period""")

  val oracles: Map[String, String] = oraclesBase ++ Map(
    // File-driven q01 (sql/analytics/01_top_zones_by_revenue.sql over the
    // SqlRunner temp views): same generator replay, q01's aggregation shape.
    "tlc_sql_q01" ->
      s"""WITH $scaledCtes
          SELECT z.zone AS pickup_zone, z.borough,
                 COUNT(*) AS total_trips,
                 ROUND(1e-9 + SUM(total_fare), 4) + 0.0 AS total_revenue,
                 ROUND(1e-9 + AVG(total_fare), 4) + 0.0 AS avg_fare,
                 ROUND(1e-9 + AVG(trip_distance_miles), 4) + 0.0 AS avg_distance,
                 CAST(SUM(CASE WHEN f.service_type = 'yellow' THEN 1 ELSE 0 END) AS BIGINT) AS yellow_trips,
                 CAST(SUM(CASE WHEN f.service_type = 'green' THEN 1 ELSE 0 END) AS BIGINT) AS green_trips,
                 CAST(SUM(CASE WHEN f.service_type = 'hvfhv' THEN 1 ELSE 0 END) AS BIGINT) AS hvfhv_trips
          FROM fact f JOIN zones z ON f.pickup_zone_id = z.location_id
          WHERE f.is_valid
          GROUP BY 1, 2
          ORDER BY total_revenue DESC
          LIMIT 20""",
    // File-driven q13 runs through PERCENTILE_CONT … WITHIN GROUP and must
    // land on the same answer as the DataFrame gate — same oracle.
    "tlc_sql_q13" -> oraclesBase("tlc_pipeline_q13"),
    // The remaining scaled-fixture file gates likewise reuse their
    // DataFrame twins' oracles: the .sql file and the engine query are the
    // same computation over the same warehouse, so one DuckDB replay
    // checks both paths.
    "tlc_sql_q03" -> oraclesBase("tlc_pipeline_q03"),
    "tlc_sql_q06" -> oraclesBase("tlc_pipeline_q06"),
    "tlc_sql_q11" -> oraclesBase("tlc_pipeline_q11"),
    "tlc_sql_q12" -> oraclesBase("tlc_pipeline_q12"),
    "tlc_sql_q14" -> oraclesBase("tlc_pipeline_q14"))
}
