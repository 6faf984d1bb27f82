package graft.tlc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.PercentileCont
import graft.operators.PercentileCont.Spec

/** The five pre-computed aggregate tables
  * (reference: src/transformations/aggregations.py, plus the
  * declared-but-unpopulated agg_congestion_fee_impact from
  * 04_aggregate_tables.sql:152).
  *
  * Percentiles are EXACT interpolated PERCENTILE_CONT, like the reference's
  * (aggregations.py:33–50), but computed through
  * [[graft.operators.PercentileCont]] (QuantileRefine's mergeable two-pass
  * histogram refinement) instead of Spark's built-in `percentile` — the
  * builtin's final merge holds a per-group value-count map in ONE task, and
  * on these tables the fares are near-unique doubles so that buffer grows
  * linearly with the corpus (r13 verdict item 1; the bound class
  * QuantileRefine retired for w12/a18/a26/a27/w16 in r12). The
  * reconstruction is bit-identical to the builtin (PercentileContSpec), so
  * every hash-gated output is unchanged. `percentile_approx` would not
  * match a DuckDB oracle at all (SURVEY.md §2.4).
  *
  * Scale posture: each builder is one hash-aggregate over the fact plus one
  * stacked QuantileRefine batch (two more mergeable passes), joined on the
  * group key — the percentile state is group-proportional, never
  * corpus-sized, and carries no broadcast hint (AQE broadcasts it while it
  * is actually small). The reference truncate-rebuilds (`DELETE FROM
  * agg_*`, aggregations.py:19,77,129,178); at 100 TB these are written
  * `partitionBy("trip_date")` and rebuilt only for affected dates —
  * `write(df, path)` below does the partitioned overwrite.
  */
object Aggregations {

  private def share(cond: Column): Column =
    sum(when(cond, 1).otherwise(0)).cast("double") / count(lit(1))

  /** agg_pricing_by_zone_hour (aggregations.py:21–62). */
  def pricingByZoneHour(fact: DataFrame): DataFrame = {
    val pre = fact
      .filter(col("is_valid") === true && col("price_per_mile").isNotNull &&
        col("price_per_mile").between(0.5, 50))
      .withColumn("trip_date", col("pickup_date"))
    val keys = Seq("service_type", "pickup_zone_id", "pickup_hour", "trip_date")
    val main = pre
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("trip_count"),
        sum(when(col("is_valid"), 1).otherwise(0)).as("valid_trip_count"),
        avg(col("trip_distance_miles")).as("avg_trip_distance"),
        sum(col("trip_distance_miles")).as("total_trip_miles"),
        avg(col("trip_duration_minutes")).as("avg_trip_duration"),
        avg(col("price_per_mile")).as("avg_price_per_mile"),
        avg(col("price_per_minute")).as("avg_price_per_minute"),
        avg(col("total_fare")).as("avg_total_fare"),
        sum(col("total_fare")).as("total_revenue"),
        // CBD fee columns are stubbed to 0 pending the real column arriving
        // via schema drift (aggregations.py:53–55; SURVEY.md §7.4 risk 9).
        lit(0).as("trips_with_cbd_fee"),
        lit(0).as("avg_cbd_fee"),
        lit(0).as("total_cbd_fee"))
    // manyGroups: zone × hour × date grows with the data span — the
    // percentile state must not collapse into one task (or a forced
    // broadcast) at 100 TB.
    val pcts = PercentileCont.group(pre, keys, Seq(
      Spec("median_trip_distance", "trip_distance_miles", 2, 4),
      Spec("median_trip_duration", "trip_duration_minutes", 2, 4),
      Spec("p25_price_per_mile", "price_per_mile", 1, 4),
      Spec("median_price_per_mile", "price_per_mile", 2, 4),
      Spec("p75_price_per_mile", "price_per_mile", 3, 4),
      Spec("p25_price_per_minute", "price_per_minute", 1, 4),
      Spec("median_price_per_minute", "price_per_minute", 2, 4),
      Spec("p75_price_per_minute", "price_per_minute", 3, 4),
      Spec("median_total_fare", "total_fare", 2, 4)),
      manyGroups = true)
    main.join(pcts, keys, "left")
      .select(
        col("service_type"), col("pickup_zone_id"), col("pickup_hour"),
        col("trip_date"),
        col("trip_count"), col("valid_trip_count"),
        col("avg_trip_distance"), col("median_trip_distance"),
        col("total_trip_miles"),
        col("avg_trip_duration"), col("median_trip_duration"),
        col("avg_price_per_mile"),
        col("avg_price_per_minute"),
        col("avg_total_fare"), col("median_total_fare"),
        col("total_revenue"),
        col("trips_with_cbd_fee"), col("avg_cbd_fee"), col("total_cbd_fee"),
        col("median_price_per_mile"), col("p25_price_per_mile"),
        col("p75_price_per_mile"),
        col("median_price_per_minute"), col("p25_price_per_minute"),
        col("p75_price_per_minute"))
  }

  /** agg_hvfhv_take_rates (aggregations.py:79–114). */
  def hvfhvTakeRates(fact: DataFrame): DataFrame = {
    val pre = fact
      .filter(col("service_type") === "hvfhv" && col("is_valid") === true &&
        col("take_rate").isNotNull && col("take_rate").between(0, 1))
      .withColumn("trip_date", col("pickup_date"))
    val keys = Seq("trip_date", "pickup_zone_id", "pickup_hour", "hvfhs_license_num")
    val main = pre
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("trip_count"),
        avg(col("trip_distance_miles")).as("avg_trip_distance"),
        avg(col("trip_duration_minutes")).as("avg_trip_duration"),
        avg(col("take_rate")).as("avg_take_rate"),
        stddev(col("take_rate")).as("stddev_take_rate"),
        avg(col("driver_pay")).as("avg_driver_pay"),
        sum(col("driver_pay")).as("total_driver_pay"),
        avg(col("total_fare") - col("driver_pay")).as("avg_platform_commission"),
        sum(col("total_fare") - col("driver_pay")).as("total_platform_commission"),
        avg(col("total_fare")).as("avg_total_fare"),
        sum(col("total_fare")).as("total_revenue"))
    val pcts = PercentileCont.group(pre, keys, Seq(
      Spec("p25_take_rate", "take_rate", 1, 4),
      Spec("median_take_rate", "take_rate", 2, 4),
      Spec("p75_take_rate", "take_rate", 3, 4),
      Spec("median_driver_pay", "driver_pay", 2, 4)),
      manyGroups = true)
    main.join(pcts, keys, "left")
      .select(
        col("trip_date"), col("pickup_zone_id"), col("pickup_hour"),
        col("hvfhs_license_num"),
        col("trip_count"), col("avg_trip_distance"), col("avg_trip_duration"),
        col("avg_take_rate"), col("stddev_take_rate"),
        col("avg_driver_pay"), col("median_driver_pay"), col("total_driver_pay"),
        col("avg_platform_commission"), col("total_platform_commission"),
        col("avg_total_fare"), col("total_revenue"),
        col("median_take_rate"), col("p25_take_rate"), col("p75_take_rate"))
      .filter(col("trip_count") >= 5)
  }

  /** agg_market_share (aggregations.py:131–163). */
  def marketShare(fact: DataFrame): DataFrame = {
    def svc(s: String): Column = col("service_type") === s
    fact
      .filter(col("is_valid") === true)
      .groupBy(col("pickup_date").as("trip_date"), col("pickup_zone_id"))
      .agg(
        sum(when(svc("yellow"), 1).otherwise(0)).as("yellow_trips"),
        sum(when(svc("green"), 1).otherwise(0)).as("green_trips"),
        sum(when(svc("hvfhv"), 1).otherwise(0)).as("hvfhv_trips"),
        count(lit(1)).as("total_trips"),
        share(svc("yellow")).as("yellow_share"),
        share(svc("green")).as("green_share"),
        share(svc("hvfhv")).as("hvfhv_share"),
        avg(when(svc("yellow"), col("price_per_mile"))).as("yellow_avg_price_per_mile"),
        avg(when(svc("green"), col("price_per_mile"))).as("green_avg_price_per_mile"),
        avg(when(svc("hvfhv"), col("price_per_mile"))).as("hvfhv_avg_price_per_mile"),
        sum(when(svc("yellow"), col("total_fare")).otherwise(0)).as("yellow_total_revenue"),
        sum(when(svc("green"), col("total_fare")).otherwise(0)).as("green_total_revenue"),
        sum(when(svc("hvfhv"), col("total_fare")).otherwise(0)).as("hvfhv_total_revenue"),
        sum(col("total_fare")).as("total_revenue"))
      .withColumn("yellow_revenue_share",
        when(col("total_revenue") =!= 0, col("yellow_total_revenue") / col("total_revenue")))
      .withColumn("green_revenue_share",
        when(col("total_revenue") =!= 0, col("green_total_revenue") / col("total_revenue")))
      .withColumn("hvfhv_revenue_share",
        when(col("total_revenue") =!= 0, col("hvfhv_total_revenue") / col("total_revenue")))
      .filter(col("total_trips") >= 10)
  }

  /** agg_daily_summary (aggregations.py:180–206). */
  def dailySummary(fact: DataFrame): DataFrame = {
    def svc(s: String): Column = col("service_type") === s
    fact
      .groupBy(col("pickup_date").as("trip_date"))
      .agg(
        count(lit(1)).as("total_trips"),
        sum(col("total_fare")).as("total_revenue"),
        avg(col("trip_distance_miles")).as("avg_trip_distance"),
        avg(col("trip_duration_minutes")).as("avg_trip_duration"),
        sum(when(svc("yellow"), 1).otherwise(0)).as("yellow_trips"),
        sum(when(svc("green"), 1).otherwise(0)).as("green_trips"),
        sum(when(svc("hvfhv"), 1).otherwise(0)).as("hvfhv_trips"),
        sum(when(svc("yellow"), col("total_fare")).otherwise(0)).as("yellow_revenue"),
        sum(when(svc("green"), col("total_fare")).otherwise(0)).as("green_revenue"),
        sum(when(svc("hvfhv"), col("total_fare")).otherwise(0)).as("hvfhv_revenue"),
        sum(when(col("is_valid"), 1).otherwise(0)).as("total_valid_trips"),
        (sum(when(col("is_valid"), 1).otherwise(0)).cast("double") / count(lit(1)))
          .as("data_quality_score"),
        lit(0).as("total_cbd_fees"),
        lit(0).as("trips_with_cbd_fee"))
  }

  /** agg_congestion_fee_impact (04_aggregate_tables.sql:152–182) — declared
    * in the reference DDL but populated by NO reference code path; built
    * here to close the schema-parity gap. Before/after the Jan 5 2025
    * congestion-fee cutover per (service_type, pickup_zone_id): trip volume,
    * fare/price-per-mile averages and exact medians, and the fare change
    * beyond the fee itself (after minus before, per the DDL's
    * `fare_increase_excl_cbd` comment). The cbd-fee columns follow
    * aggregations.py:53–55's convention — stubbed 0 until the
    * `cbd_congestion_fee` column arrives via schema drift. */
  def congestionFeeImpact(fact: DataFrame): DataFrame = {
    val cutover = lit("2025-01-05").cast("date")
    val scoped = fact.filter(col("is_valid"))
      .filter(col("pickup_date").between(
        lit("2024-12-01").cast("date"), lit("2025-01-31").cast("date")))
      .withColumn("time_period", when(col("pickup_date") < cutover, "before").otherwise("after"))
    val keys = Seq("service_type", "pickup_zone_id", "time_period")
    val main = scoped.groupBy(keys.map(col): _*)
      .agg(
        min(col("pickup_date")).as("start_date"),
        max(col("pickup_date")).as("end_date"),
        count(lit(1)).as("trip_count"),
        (count(lit(1)).cast("double") / countDistinct(col("pickup_date")))
          .as("avg_trips_per_day"),
        avg(col("total_fare")).as("avg_total_fare"),
        avg(col("price_per_mile")).as("avg_price_per_mile"))
    // period × zone × service is bounded (~1.6k groups), but manyGroups
    // costs nothing here and keeps the whole TLC surface on one plan shape.
    val pcts = PercentileCont.group(scoped, keys, Seq(
      Spec("median_total_fare", "total_fare", 2, 4),
      Spec("median_price_per_mile", "price_per_mile", 2, 4)),
      manyGroups = true)
    val base = main.join(pcts, keys, "left")
      .select(
        col("service_type"), col("pickup_zone_id"), col("time_period"),
        col("start_date"), col("end_date"),
        col("trip_count"), col("avg_trips_per_day"),
        col("avg_total_fare"), col("median_total_fare"),
        col("avg_price_per_mile"), col("median_price_per_mile"))
      .withColumn("trips_with_cbd_fee", lit(0L))
      .withColumn("cbd_fee_adoption_rate", lit(0.0))
      .withColumn("avg_cbd_fee", lit(0.0))
      .withColumn("total_cbd_fee_collected", lit(0.0))
      .withColumn("avg_fare_excluding_cbd_fee", col("avg_total_fare"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("service_type", "pickup_zone_id")
    base
      .withColumn("before_excl",
        max(when(col("time_period") === "before", col("avg_fare_excluding_cbd_fee"))).over(w))
      .withColumn("fare_increase_excl_cbd",
        when(col("time_period") === "after",
          col("avg_fare_excluding_cbd_fee") - col("before_excl")))
      .drop("before_excl")
  }

  /** Partitioned overwrite — the scale-friendly replacement for the
    * reference's DELETE + INSERT truncate-rebuild. Date-grained aggregates
    * partition by trip_date; period-grained ones (congestion_fee_impact is
    * a before/after summary, aggregations.py's cbd table) have no date
    * column and write flat. */
  def write(agg: DataFrame, path: String): Unit =
    if (agg.columns.contains("trip_date"))
      agg.write.mode("overwrite").partitionBy("trip_date").parquet(path)
    else agg.write.mode("overwrite").parquet(path)

  /** Restrict `df` to the affected pickup_dates (r13 verdict item 6 / r14).
    * Month-grain increments stay an `isin` literal list — on the
    * pickup_date-partitioned fact that is STATIC partition pruning, the
    * cheapest possible scan scope. A multi-month backfill (thousands of
    * dates) would instead pay analyzer cost + plan-cache misses per literal
    * chain, so past [[IsinDateLimit]] the filter becomes a broadcast
    * LEFT SEMI join on the affected-dates frame, which prunes partitions at
    * runtime via dynamic partition pruning instead. */
  private[tlc] val IsinDateLimit = 256
  private[tlc] def filterDates(df: DataFrame, dates: Seq[java.sql.Date]): DataFrame =
    if (dates.size <= IsinDateLimit) df.filter(col("pickup_date").isin(dates: _*))
    else {
      val spark = df.sparkSession
      val dd = spark.createDataFrame(
        spark.sparkContext.parallelize(dates.map(org.apache.spark.sql.Row(_)), 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("pickup_date",
            org.apache.spark.sql.types.DateType, nullable = false))))
      df.join(org.apache.spark.sql.functions.broadcast(dd),
        Seq("pickup_date"), "left_semi")
    }

  /** Incremental rebuild: recompute ONLY the given dates' partitions and
    * overwrite them in place (dynamic partition overwrite), leaving every
    * other date's data untouched. At 100 TB a late-arriving file touches a
    * handful of dates — truncate-rebuild (aggregations.py:19,77,129,178)
    * would rescan the whole fact. `build` is any of the agg builders above;
    * its input is pre-filtered so the scan itself partition-prunes. The
    * dynamic mode is this write's own option, not the session conf, so
    * concurrent writes in the same session never see each other's mode. */
  def rebuildDates(fact: DataFrame, build: DataFrame => DataFrame,
                   dates: Seq[java.sql.Date], path: String): Unit =
    build(filterDates(fact, dates))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("trip_date").parquet(path)

  def buildAll(fact: DataFrame): Map[String, DataFrame] = Map(
    "agg_pricing_by_zone_hour" -> pricingByZoneHour(fact),
    "agg_hvfhv_take_rates" -> hvfhvTakeRates(fact),
    "agg_market_share" -> marketShare(fact),
    "agg_daily_summary" -> dailySummary(fact),
    "agg_congestion_fee_impact" -> congestionFeeImpact(fact))
}
