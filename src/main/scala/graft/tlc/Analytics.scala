package graft.tlc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Exact.{davg, safeDiv, stableRound}
import graft.tlc.Aggregations.pct

/** The 14 analytics queries (reference: sql/analytics/01–14) as DataFrame
  * pipelines over the fact + dims (+ agg_market_share for q03).
  *
  * Every dim join is an explicit broadcast; top-k queries end in
  * orderBy+limit (TakeOrderedAndProject); percentile aggregates are exact
  * interpolated PERCENTILE_CONT, written as Spark's `percentile` inside the
  * query's own aggregate. [[graft.plans.RewritePercentileAgg]] plans them
  * onto [[graft.operators.PercentileCont]] (bit-identical to the builtin,
  * PercentileContSpec) instead of the builtin `Percentile` aggregate, whose
  * final merge holds a per-group value-count map in one task; with q05's
  * three service-type groups or q04's two companies over near-unique double
  * fares, that buffer grows linearly with the corpus (r13 verdict item 1).
  * The .sql twins that SqlRunner runs keep the reference's PERCENTILE_CONT
  * … WITHIN GROUP text, and the same rule plans them, so both entry points
  * share one plan family.
  */
final case class TlcTables(
  fact: DataFrame,
  dimZones: DataFrame,
  dimDate: DataFrame,
  dimTime: DataFrame,
  dimService: DataFrame,
  dimHvfhsCompany: DataFrame,
  aggMarketShare: DataFrame)

object Analytics {

  private def valid(t: TlcTables): DataFrame = t.fact.filter(col("is_valid") === true)

  /** Eager checkpoint of a BOUNDED multi-consumer frame: it is computed
    * once, as its own job, before any consumer is planned. A lazy persist
    * leaves the cache COLD for whichever consumer runs first — and the
    * percentile batches' few-groups refine rounds run `coalesce(1)`, so
    * each sequential round collapsed the whole corpus-scale lineage into
    * ONE task while the other consumers raced the same cold cache with
    * duplicate passes (tlc_pipeline_q14 profiled: stage-sum 23.3 s vs
    * 5.8 s wall; 3.97 → 0.94 s with the checkpoint, q12 3.06 → 0.23 s).
    * The checkpoint is a fresh RDD per query evaluation, so timed bench
    * repeats still pay the full build — no cross-repeat reuse — and it is
    * registered with [[graft.CacheScope]], so `drain` releases its blocks
    * between repeats. Only calendar/dimension-bounded frames go through
    * here (MBs at any corpus size), never corpus-sized ones. */
  private def ckpt(df: DataFrame): DataFrame = graft.CacheScope.checkpointScoped(df)

  /** 01: top 20 zones by revenue (01_top_zones_by_revenue.sql). */
  def q01TopZonesByRevenue(t: TlcTables): DataFrame =
    valid(t)
      .join(broadcast(t.dimZones), col("pickup_zone_id") === col("location_id"))
      .groupBy(col("zone").as("pickup_zone"), col("borough"))
      .agg(
        count(col("trip_id")).as("total_trips"),
        sum(col("total_fare")).as("total_revenue"),
        avg(col("total_fare")).as("avg_fare"),
        avg(col("trip_distance_miles")).as("avg_distance"),
        sum(when(col("service_type") === "yellow", 1).otherwise(0)).as("yellow_trips"),
        sum(when(col("service_type") === "green", 1).otherwise(0)).as("green_trips"),
        sum(when(col("service_type") === "hvfhv", 1).otherwise(0)).as("hvfhv_trips"))
      .orderBy(col("total_revenue").desc)
      .limit(20)

  /** 02: hourly demand patterns (02_hourly_demand_patterns.sql). */
  def q02HourlyDemand(t: TlcTables): DataFrame =
    valid(t)
      .join(broadcast(t.dimTime), col("pickup_hour") === col("hour"))
      .groupBy(col("hour"), col("hour_12").as("hour_label"),
        col("is_rush_hour").as("is_peak_hour"))
      .agg(
        sum(when(col("service_type") === "yellow", 1).otherwise(0)).as("yellow_trips"),
        sum(when(col("service_type") === "green", 1).otherwise(0)).as("green_trips"),
        sum(when(col("service_type") === "hvfhv", 1).otherwise(0)).as("hvfhv_trips"),
        count(lit(1)).as("total_trips"),
        avg(col("total_fare")).as("avg_fare"),
        avg(col("trip_duration_minutes")).as("avg_duration_minutes"))
      .orderBy("hour")

  /** 03: market-share trends — re-aggregates agg_market_share to daily then
    * joins dim_date (03_market_share_trends.sql). */
  def q03MarketShareTrends(t: TlcTables): DataFrame = {
    val daily = t.aggMarketShare
      .groupBy("trip_date")
      .agg(
        sum(col("total_trips")).as("total_trips"),
        sum(col("yellow_trips")).as("yellow_trips"),
        sum(col("green_trips")).as("green_trips"),
        sum(col("hvfhv_trips")).as("hvfhv_trips"),
        avg(col("yellow_share")).as("yellow_share"),
        avg(col("green_share")).as("green_share"),
        avg(col("hvfhv_share")).as("hvfhv_share"),
        sum(col("total_revenue")).as("total_revenue"),
        safeDiv(sum(col("yellow_total_revenue")), sum(col("total_revenue")))
          .as("yellow_revenue_share"),
        safeDiv(sum(col("green_total_revenue")), sum(col("total_revenue")))
          .as("green_revenue_share"),
        safeDiv(sum(col("hvfhv_total_revenue")), sum(col("total_revenue")))
          .as("hvfhv_revenue_share"))
    daily
      .join(broadcast(t.dimDate), col("trip_date") === col("date_id"))
      .select(
        col("date_id").as("date"), col("month_name"), col("year"),
        col("total_trips"), col("yellow_trips"), col("green_trips"), col("hvfhv_trips"),
        stableRound(col("yellow_share") * 100, 2).as("yellow_share_pct"),
        stableRound(col("green_share") * 100, 2).as("green_share_pct"),
        stableRound(col("hvfhv_share") * 100, 2).as("hvfhv_share_pct"),
        col("total_revenue"),
        stableRound(col("yellow_revenue_share") * 100, 2).as("yellow_revenue_share_pct"),
        stableRound(col("green_revenue_share") * 100, 2).as("green_revenue_share_pct"),
        stableRound(col("hvfhv_revenue_share") * 100, 2).as("hvfhv_revenue_share_pct"))
      .orderBy("date")
  }

  /** 04: HVFHV platform economics by company (04_hvfhv_platform_economics.sql).
    * Two company groups over EVERY hvfhv row — the worst case for the
    * builtin percentile's one-task value map; the rule plans the quartiles
    * onto one stacked PercentileCont batch instead. */
  def q04PlatformEconomics(t: TlcTables): DataFrame = {
    valid(t)
      .filter(col("service_type") === "hvfhv" && col("take_rate").between(0, 1))
      .join(broadcast(t.dimHvfhsCompany), Seq("hvfhs_license_num"))
      .groupBy("company_name")
      .agg(
        count(lit(1)).as("total_trips"),
        (avg(col("take_rate")) * 100).as("avg_take_rate_pct"),
        avg(col("driver_pay")).as("avg_driver_pay"),
        avg(col("total_fare") - col("driver_pay")).as("avg_platform_commission"),
        sum(col("total_fare") - col("driver_pay")).as("total_platform_revenue"),
        sum(col("driver_pay")).as("total_driver_pay"),
        sum(col("total_fare")).as("total_gross_revenue"),
        (pct("take_rate", 0.25) * 100).as("p25_take_rate_pct"),
        (pct("take_rate", 0.5) * 100).as("median_take_rate_pct"),
        (pct("take_rate", 0.75) * 100).as("p75_take_rate_pct"))
      .orderBy(col("total_trips").desc)
  }

  /** 05: pricing comparison across services (05_pricing_comparison.sql).
    * Three service-type groups over the whole fact — the medians ride
    * PercentileCont (one group's distinct prices ≈ a third of the corpus
    * in the builtin's single merge task). */
  def q05PricingComparison(t: TlcTables): DataFrame = {
    valid(t)
      .filter(col("price_per_mile").between(0.5, 50) &&
        col("price_per_minute").between(0.1, 10))
      .groupBy("service_type")
      .agg(
        count(lit(1)).as("trip_count"),
        avg(col("price_per_mile")).as("avg_price_per_mile"),
        pct("price_per_mile", 0.5).as("median_price_per_mile"),
        avg(col("price_per_minute")).as("avg_price_per_minute"),
        pct("price_per_minute", 0.5).as("median_price_per_minute"),
        avg(col("total_fare")).as("avg_total_fare"),
        avg(col("trip_distance_miles")).as("avg_trip_distance"),
        avg(col("trip_duration_minutes")).as("avg_trip_duration"),
        avg(col("tips")).as("avg_tips"),
        (safeDiv(avg(col("tips")), avg(col("total_fare"))) * 100).as("avg_tip_percentage"))
      .orderBy(col("trip_count").desc)
  }

  /** 06: airport trips — double-dim join on pickup AND dropoff zones
    * (06_airport_trips_analysis.sql; needs the restored dropoff_zone_id). */
  def q06AirportTrips(t: TlcTables): DataFrame = {
    val zp = t.dimZones.select(col("location_id").as("pu_id"),
      col("service_zone").as("pu_service_zone"))
    val zd = t.dimZones.select(col("location_id").as("do_id"),
      col("service_zone").as("do_service_zone"))
    valid(t)
      .join(broadcast(zp), col("pickup_zone_id") === col("pu_id"))
      .join(broadcast(zd), col("dropoff_zone_id") === col("do_id"))
      .filter(col("pu_service_zone") === "Airports" || col("do_service_zone") === "Airports")
      .withColumn("trip_type",
        when(col("pu_service_zone") === "Airports", "From Airport")
          .when(col("do_service_zone") === "Airports", "To Airport")
          .otherwise("Other"))
      .groupBy("trip_type", "service_type")
      .agg(
        count(lit(1)).as("trip_count"),
        avg(col("trip_distance_miles")).as("avg_distance"),
        avg(col("trip_duration_minutes")).as("avg_duration"),
        avg(col("total_fare")).as("avg_fare"),
        avg(col("airport_fee")).as("avg_airport_fee"),
        sum(col("airport_fee")).as("total_airport_fees"),
        avg(col("price_per_mile")).as("avg_price_per_mile"))
      .orderBy(col("trip_count").desc)
  }

  /** 07: weekend vs weekday (07_weekend_vs_weekday.sql). */
  def q07WeekendVsWeekday(t: TlcTables): DataFrame =
    valid(t)
      .join(broadcast(t.dimDate), col("pickup_date") === col("date_id"))
      .groupBy(col("is_weekend"),
        when(col("is_weekend"), "Weekend").otherwise("Weekday").as("day_type"),
        col("service_type"))
      .agg(
        count(lit(1)).as("trip_count"),
        avg(col("total_fare")).as("avg_fare"),
        avg(col("trip_distance_miles")).as("avg_distance"),
        avg(col("trip_duration_minutes")).as("avg_duration"),
        avg(col("price_per_mile")).as("avg_price_per_mile"),
        (safeDiv(avg(col("tips")), avg(col("total_fare"))) * 100).as("avg_tip_percentage"),
        sum(col("total_fare")).as("total_revenue"))
      .orderBy(col("is_weekend"), col("trip_count").desc)

  /** 08: shared-rides analysis with percent-of-total window
    * (08_shared_rides_analysis.sql; needs the restored is_shared_match). */
  def q08SharedRides(t: TlcTables): DataFrame =
    valid(t)
      .filter(col("service_type") === "hvfhv")
      .withColumn("shared_status",
        when(col("is_shared_request") && col("is_shared_match"), "Requested & Matched")
          .when(col("is_shared_request") && !col("is_shared_match"),
            "Requested but Not Matched")
          .otherwise("Not Shared"))
      .groupBy("shared_status")
      .agg(
        count(lit(1)).as("trip_count"),
        avg(col("total_fare")).as("avg_fare"),
        avg(col("trip_distance_miles")).as("avg_distance"),
        avg(col("price_per_mile")).as("avg_price_per_mile"),
        (avg(col("take_rate")) * 100).as("avg_take_rate_pct"),
        avg(col("driver_pay")).as("avg_driver_pay"))
      .withColumn("percentage",
        // stableRound, not round: count ratios like 97*100/800 = 12.125
        // land exactly on half-cent boundaries where Spark (HALF_UP) and
        // DuckDB (half-even) split — same fix as q03/q11 (round-9 advice).
        stableRound(col("trip_count") * 100.0 / sum(col("trip_count")).over(Window.partitionBy()), 2))
      .select("shared_status", "trip_count", "percentage", "avg_fare", "avg_distance",
        "avg_price_per_mile", "avg_take_rate_pct", "avg_driver_pay")
      .orderBy(col("trip_count").desc)

  /** 09: borough comparison (09_borough_comparison.sql). */
  def q09BoroughComparison(t: TlcTables): DataFrame =
    valid(t)
      .join(broadcast(t.dimZones), col("pickup_zone_id") === col("location_id"))
      .filter(col("borough") =!= "Unknown")
      .groupBy("borough")
      .agg(
        count(lit(1)).as("total_trips"),
        sum(when(col("service_type") === "yellow", 1).otherwise(0)).as("yellow_trips"),
        sum(when(col("service_type") === "green", 1).otherwise(0)).as("green_trips"),
        sum(when(col("service_type") === "hvfhv", 1).otherwise(0)).as("hvfhv_trips"),
        avg(col("total_fare")).as("avg_fare"),
        avg(col("trip_distance_miles")).as("avg_distance"),
        avg(col("trip_duration_minutes")).as("avg_duration"),
        avg(col("price_per_mile")).as("avg_price_per_mile"),
        sum(col("total_fare")).as("total_revenue"),
        stableRound(sum(when(col("service_type") === "hvfhv", 1).otherwise(0)) * 100.0 /
          count(lit(1)), 2).as("hvfhv_market_share_pct"))
      .orderBy(col("total_trips").desc)

  /** 10: data-quality summary over the whole fact, valid or not
    * (10_data_quality_summary.sql; needs restored dropoff columns). */
  def q10DataQualitySummary(t: TlcTables): DataFrame =
    t.fact
      .groupBy("service_type")
      .agg(
        count(lit(1)).as("total_records"),
        sum(when(col("is_valid"), 1).otherwise(0)).as("valid_records"),
        sum(when(!col("is_valid"), 1).otherwise(0)).as("invalid_records"),
        stableRound(sum(when(col("is_valid"), 1).otherwise(0)) * 100.0 / count(lit(1)), 2)
          .as("data_quality_pct"),
        sum(when(col("total_fare") < 0, 1).otherwise(0)).as("negative_fares"),
        sum(when(col("trip_distance_miles") < 0, 1).otherwise(0)).as("negative_distances"),
        sum(when(col("trip_duration_minutes") < 0, 1).otherwise(0)).as("negative_durations"),
        sum(when(col("dropoff_datetime") <= col("pickup_datetime"), 1).otherwise(0))
          .as("invalid_timestamps"),
        sum(when(col("avg_speed_mph") > 100, 1).otherwise(0)).as("excessive_speeds"),
        sum(when(col("pickup_zone_id").isNull, 1).otherwise(0)).as("null_pickup_zones"),
        sum(when(col("dropoff_zone_id").isNull, 1).otherwise(0)).as("null_dropoff_zones"),
        min(col("pickup_date")).as("earliest_trip"),
        max(col("pickup_date")).as("latest_trip"))
      .orderBy(col("total_records").desc)

  /** 11: HVFHV vs taxi pricing by zone/hour — conditional medians, two-sided
    * HAVING, CASE sort key, top 50 (11_uber_lyft_vs_taxi_pricing_by_zone_hour.sql). */
  def q11HvfhvVsTaxiPricing(t: TlcTables): DataFrame = {
    val taxi = col("service_type").isin("yellow", "green")
    val hv = col("service_type") === "hvfhv"
    // the conditional medians ride the rule's one percentile batch: the
    // when(...)-without-otherwise values are NULL off-condition, and the
    // rewrite skips NULL values exactly as the builtin does. zone × hour
    // groups are FIXED-cardinality (~6.4k), so per-group rows grow
    // linearly with the corpus — no single-task value map.
    def median(svc: Column, c: String): Column = percentile(when(svc, col(c)), lit(0.5))
    val base = valid(t)
      .filter(col("price_per_mile").between(0.5, 50) &&
        col("price_per_minute").between(0.1, 10))
      .join(broadcast(t.dimZones), col("pickup_zone_id") === col("location_id"))
      .filter(col("borough") =!= "Unknown")
      .join(broadcast(t.dimTime), col("pickup_hour") === col("hour"))
      .groupBy(col("zone").as("pickup_zone"), col("borough"), col("hour"),
        col("hour_12").as("hour_label"), col("is_rush_hour").as("is_peak_hour"))
      .agg(
        median(taxi, "price_per_mile").as("taxi_median_price_per_mile"),
        median(taxi, "price_per_minute").as("taxi_median_price_per_minute"),
        count(when(taxi, col("price_per_mile"))).as("taxi_trip_count"),
        median(hv, "price_per_mile").as("hvfhv_median_price_per_mile"),
        median(hv, "price_per_minute").as("hvfhv_median_price_per_minute"),
        count(when(hv, col("price_per_mile"))).as("hvfhv_trip_count"))
      .filter(col("taxi_trip_count") >= 10 && col("hvfhv_trip_count") >= 10)
    val rel = safeDiv(
      col("hvfhv_median_price_per_mile") - col("taxi_median_price_per_mile"),
      col("taxi_median_price_per_mile"))
    base.select(
        col("pickup_zone"), col("borough"), col("hour"), col("hour_label"),
        col("is_peak_hour"),
        stableRound(col("taxi_median_price_per_mile"), 2).as("taxi_price_per_mile"),
        stableRound(col("taxi_median_price_per_minute"), 2).as("taxi_price_per_minute"),
        col("taxi_trip_count"),
        stableRound(col("hvfhv_median_price_per_mile"), 2).as("hvfhv_price_per_mile"),
        stableRound(col("hvfhv_median_price_per_minute"), 2).as("hvfhv_price_per_minute"),
        col("hvfhv_trip_count"),
        stableRound(col("hvfhv_median_price_per_mile") - col("taxi_median_price_per_mile"), 2)
          .as("price_diff_per_mile"),
        stableRound(col("hvfhv_median_price_per_minute") - col("taxi_median_price_per_minute"), 2)
          .as("price_diff_per_minute"),
        stableRound(rel * 100, 1).as("price_diff_pct_per_mile"),
        stableRound(safeDiv(col("hvfhv_median_price_per_minute") - col("taxi_median_price_per_minute"),
          col("taxi_median_price_per_minute")) * 100, 1).as("price_diff_pct_per_minute"),
        when(rel > 0.10, "YES - HVFHV Higher")
          .when(rel < -0.10, "NO - Taxi Higher")
          .otherwise("Similar").as("pricing_verdict"),
        when(rel > 0.10, 1).otherwise(2).as("sort_key"))
      .orderBy(col("sort_key"), col("price_diff_pct_per_mile").desc)
      .drop("sort_key")
      .limit(50)
  }

  /** 12: CBD congestion-fee before/after — semi-join zone set, period
    * conditional agg, before⋈after self-join (12_cbd_congestion_fee_impact.sql). */
  def q12CbdCongestionFee(t: TlcTables): DataFrame = {
    val cbdZones = t.dimZones
      .filter(col("borough") === "Manhattan" &&
        col("service_zone").isin("Yellow Zone", "Boro Zone"))
      .select(col("location_id"))
    val period = when(col("pickup_date") < lit("2025-01-05").cast("date"),
        "Before Jan 5, 2025")
      .when(col("pickup_date") >= lit("2025-01-05").cast("date"), "After Jan 5, 2025")
    val scoped = valid(t)
      .join(broadcast(cbdZones), col("pickup_zone_id") === col("location_id"), "left_semi")
      .filter(col("pickup_date").between(
        lit("2024-12-01").cast("date"), lit("2025-01-31").cast("date")))
      .withColumn("period", period)
    // period × service is ≤6 groups over EVERY scoped fare — the exact
    // shape where the builtin percentile's one-task value map grows with
    // the corpus; the rule plans the median onto PercentileCont instead.
    // The ≤6-row result is CHECKPOINTED (r15, q14's lesson) because BOTH
    // the before and after branches consume it: a lazy persist left the
    // cache cold and the two branches raced it, each re-executing the whole
    // percentile aggregate over the fact; the eager checkpoint materializes
    // the ≤6 rows once at full parallelism.
    val byPeriod = ckpt(scoped
      .groupBy("period", "service_type")
      .agg(
        count(lit(1)).as("trip_count"),
        // davg, not avg: averaged per-mile/-minute ratios are generic doubles
        // that can land within 1e-9 of a half-cent boundary, so double-avg's
        // shuffle-order ±1e-13 flips the rounded digit across runs (r4 q12
        // regression). Exact-decimal sum / count is order-independent.
        davg(col("price_per_mile")).as("avg_price_per_mile"),
        davg(col("surcharges")).as("avg_surcharges"),
        davg(when(col("service_type") === "hvfhv", col("driver_pay"))).as("avg_driver_pay"),
        (davg(when(col("service_type") === "hvfhv", col("take_rate"))) * 100)
          .as("avg_take_rate_pct"),
        pct("total_fare", 0.5).as("median_total_fare")))
    val before = byPeriod.filter(col("period") === "Before Jan 5, 2025")
      .select(col("service_type"),
        col("trip_count").as("trips_before"),
        col("median_total_fare").as("b_median_fare"),
        col("avg_price_per_mile").as("b_ppm"),
        col("avg_surcharges").as("b_surch"),
        col("avg_driver_pay").as("b_dp"),
        col("avg_take_rate_pct").as("b_tr"))
    val after = byPeriod.filter(col("period") === "After Jan 5, 2025")
      .select(col("service_type"),
        col("trip_count").as("trips_after"),
        col("median_total_fare").as("a_median_fare"),
        col("avg_price_per_mile").as("a_ppm"),
        col("avg_surcharges").as("a_surch"),
        col("avg_driver_pay").as("a_dp"),
        col("avg_take_rate_pct").as("a_tr"))
    before.join(after, Seq("service_type"), "left")
      .select(
        col("service_type"),
        col("trips_before"),
        stableRound(col("b_median_fare"), 2).as("median_fare_before"),
        stableRound(col("b_ppm"), 2).as("price_per_mile_before"),
        stableRound(col("b_surch"), 2).as("avg_surcharges_before"),
        stableRound(col("b_dp"), 2).as("driver_pay_before"),
        stableRound(col("b_tr"), 1).as("take_rate_pct_before"),
        col("trips_after"),
        stableRound(col("a_median_fare"), 2).as("median_fare_after"),
        stableRound(col("a_ppm"), 2).as("price_per_mile_after"),
        stableRound(col("a_surch"), 2).as("avg_surcharges_after"),
        stableRound(col("a_dp"), 2).as("driver_pay_after"),
        stableRound(col("a_tr"), 1).as("take_rate_pct_after"),
        stableRound(col("a_median_fare") - col("b_median_fare"), 2).as("fare_change_dollars"),
        stableRound(col("a_ppm") - col("b_ppm"), 2).as("price_per_mile_change"),
        stableRound(col("a_surch") - col("b_surch"), 2).as("surcharge_change"),
        stableRound(col("a_dp") - col("b_dp"), 2).as("driver_pay_change"),
        stableRound(col("a_tr") - col("b_tr"), 1).as("take_rate_change_pct"),
        stableRound(safeDiv(col("a_median_fare") - col("b_median_fare"), col("b_median_fare")) * 100, 1)
          .as("fare_change_pct"),
        stableRound(safeDiv(col("a_surch") - col("b_surch"), col("b_surch")) * 100, 1)
          .as("surcharge_change_pct"),
        when(col("service_type") === "hvfhv",
          when(col("a_tr") - col("b_tr") > 1, "Platform kept more (driver absorbed fee)")
            .when(col("a_tr") - col("b_tr") < -1, "Driver got more (platform absorbed fee)")
            .otherwise("Passed to rider"))
          .otherwise("N/A - Traditional Taxi").as("fee_absorption_pattern"))
      .orderBy(col("fare_change_pct").desc)
  }

  /** 13: HVFHV take-rate variance, part A — monthly trends with IQR
    * (13_hvfhv_take_rate_variance_analysis.sql; the shipped statement
    * returns monthly_take_rates). */
  def q13TakeRateVariance(t: TlcTables): DataFrame = {
    val pre = valid(t)
      .filter(col("service_type") === "hvfhv" && col("take_rate").between(0, 1))
      .join(broadcast(t.dimDate), col("pickup_date") === col("date_id"))
      .join(broadcast(t.dimHvfhsCompany), Seq("hvfhs_license_num"))
    // all three quartiles from ONE percentile batch (vs five separate
    // sort-aggs in the reference SQL); month × company groups grow with
    // the data span.
    pre.groupBy("year", "month", "month_name", "company_name")
      .agg(
        count(lit(1)).as("trip_count"),
        (pct("take_rate", 0.25) * 100).as("p25_take_rate"),
        (pct("take_rate", 0.5) * 100).as("median_take_rate"),
        (pct("take_rate", 0.75) * 100).as("p75_take_rate"),
        (avg(col("take_rate")) * 100).as("avg_take_rate"),
        (stddev(col("take_rate")) * 100).as("stddev_take_rate"),
        ((pct("take_rate", 0.75) - pct("take_rate", 0.25)) * 100).as("iqr_take_rate"))
      .orderBy("year", "month", "company_name")
  }

  /** 14: market-share shift vs pricing — five chained CTEs, scalar-subquery
    * quartile dates, zone-partition window, top-100 by |Δshare|
    * (14_market_share_shift_vs_pricing.sql). */
  def q14MarketShareShift(t: TlcTables): DataFrame = {
    // dailyZone / withShare are CALENDAR × zone × service bounded (never
    // corpus-sized), but dailyZone has two consumers (totals + the share
    // join) and withShare has three (the quartile batch's two passes + the
    // changes rollup) — without the checkpoints every consumer re-runs
    // the corpus-scale scan+aggregate underneath (q14 measured ~10
    // one-pass equivalents at sf0.1; materializing cuts the corpus work to
    // the single pass the query actually needs). Eager, see ckpt's
    // scaladoc (this query is its profiled case: 3.97 → 0.94 s).
    val dailyZone = ckpt(valid(t)
      .filter(col("price_per_mile").between(0.5, 50))
      .join(broadcast(t.dimZones), col("pickup_zone_id") === col("location_id"))
      .filter(col("borough") =!= "Unknown")
      .groupBy("pickup_date", "zone", "borough", "service_type")
      .agg(
        count(lit(1)).as("trip_count"),
        avg(col("price_per_mile")).as("avg_price_per_mile"),
        avg(col("total_fare")).as("avg_total_fare"),
        sum(col("total_fare")).as("total_revenue")))
    val totals = dailyZone
      .groupBy("pickup_date", "zone")
      .agg(sum(col("trip_count")).as("total_trips"),
        sum(col("total_revenue")).as("zone_total_revenue"))
    val withShare = ckpt(
      dailyZone.join(totals, Seq("pickup_date", "zone"))
      .filter(col("total_trips") >= 50)
      .withColumn("market_share_pct",
        stableRound(col("trip_count") * 100.0 / col("total_trips"), 2))
      .withColumn("price_per_mile_r", stableRound(col("avg_price_per_mile"), 2))
      .withColumn("d", datediff(col("pickup_date"), lit("1970-01-01").cast("date"))))
    // quartile dates of the filtered set (14:70–79's scalar subquery) — a
    // one-row broadcast, not a collect. The input is already the bounded
    // date×zone×service aggregate, but the rule keeps the whole TLC
    // percentile surface on one plan family (no builtin value-map merge).
    val quartiles = withShare.agg(pct("d", 0.25).as("q25"), pct("d", 0.75).as("q75"))
    val changes = withShare.crossJoin(broadcast(quartiles))
      .groupBy("zone", "borough", "service_type")
      .agg(
        avg(when(col("d") <= col("q25"), col("market_share_pct"))).as("early_market_share"),
        avg(when(col("d") <= col("q25"), col("price_per_mile_r"))).as("early_price"),
        avg(when(col("d") >= col("q75"), col("market_share_pct"))).as("late_market_share"),
        avg(when(col("d") >= col("q75"), col("price_per_mile_r"))).as("late_price"),
        avg(col("market_share_pct")).as("avg_market_share"),
        avg(col("price_per_mile_r")).as("avg_price"),
        countDistinct(col("pickup_date")).as("days_active"),
        sum(col("trip_count")).as("total_trips"))
      .filter(col("days_active") >= 10)
    val zoneAvg = avg(col("avg_price")).over(Window.partitionBy("zone"))
    val shareChange = stableRound(col("late_market_share") - col("early_market_share"), 2)
    changes
      .withColumn("market_share_change_pct", shareChange)
      .withColumn("price_change", stableRound(col("late_price") - col("early_price"), 2))
      .withColumn("price_change_pct",
        stableRound(safeDiv(col("late_price") - col("early_price"), col("early_price")) * 100, 1))
      .withColumn("price_vs_zone_avg", stableRound(col("avg_price") - zoneAvg, 2))
      .withColumn("share_trend",
        when(col("late_market_share") - col("early_market_share") > 5, "Gaining Share")
          .when(col("late_market_share") - col("early_market_share") < -5, "Losing Share")
          .otherwise("Stable"))
      .withColumn("pricing_position",
        when(col("avg_price") > zoneAvg * 1.1, "Premium Priced")
          .when(col("avg_price") < zoneAvg * 0.9, "Discount Priced")
          .otherwise("Market Priced"))
      .filter(col("total_trips") >= 500)
      .withColumn("competitive_insight",
        when(col("share_trend") === "Gaining Share" &&
          col("pricing_position") === "Discount Priced", "Gaining via Lower Price")
          .when(col("share_trend") === "Gaining Share" &&
            col("pricing_position") === "Premium Priced",
            "Gaining Despite Higher Price (Quality/Service)")
          .when(col("share_trend") === "Losing Share" &&
            col("pricing_position") === "Premium Priced", "Losing due to High Price")
          .when(col("share_trend") === "Losing Share" &&
            col("pricing_position") === "Discount Priced",
            "Losing Despite Low Price (Quality Issues?)")
          .otherwise("Stable Market"))
      .select(
        col("zone"), col("borough"), col("service_type"),
        stableRound(col("early_market_share"), 1).as("early_share_pct"),
        stableRound(col("late_market_share"), 1).as("late_share_pct"),
        col("market_share_change_pct").as("share_change_pct"),
        col("share_trend"),
        stableRound(col("early_price"), 2).as("early_price_per_mile"),
        stableRound(col("late_price"), 2).as("late_price_per_mile"),
        col("price_change").as("price_change_dollars"),
        col("price_change_pct"), col("pricing_position"),
        col("price_vs_zone_avg").as("price_premium_vs_zone"),
        col("total_trips"), col("days_active"), col("competitive_insight"))
      .orderBy(abs(col("share_change_pct")).desc)
      .limit(100)
  }

  /** All 14 queries, keyed by their reference file number. Thunks, not
    * DataFrames (r15): q12/q14 eagerly checkpoint their bounded frames at
    * CONSTRUCTION time, so building all 14 plans eagerly would (a) run those jobs for callers that never touch q12/q14 and
    * (b) let a memoized DataFrame smuggle the checkpointed build across
    * bench repeats — each caller constructs the query it runs, fresh. */
  def all(t: TlcTables): Map[String, () => DataFrame] = Map(
    "01_top_zones_by_revenue" -> (() => q01TopZonesByRevenue(t)),
    "02_hourly_demand_patterns" -> (() => q02HourlyDemand(t)),
    "03_market_share_trends" -> (() => q03MarketShareTrends(t)),
    "04_hvfhv_platform_economics" -> (() => q04PlatformEconomics(t)),
    "05_pricing_comparison" -> (() => q05PricingComparison(t)),
    "06_airport_trips_analysis" -> (() => q06AirportTrips(t)),
    "07_weekend_vs_weekday" -> (() => q07WeekendVsWeekday(t)),
    "08_shared_rides_analysis" -> (() => q08SharedRides(t)),
    "09_borough_comparison" -> (() => q09BoroughComparison(t)),
    "10_data_quality_summary" -> (() => q10DataQualitySummary(t)),
    "11_uber_lyft_vs_taxi_pricing" -> (() => q11HvfhvVsTaxiPricing(t)),
    "12_cbd_congestion_fee_impact" -> (() => q12CbdCongestionFee(t)),
    "13_hvfhv_take_rate_variance" -> (() => q13TakeRateVariance(t)),
    "14_market_share_shift_vs_pricing" -> (() => q14MarketShareShift(t)))
}
