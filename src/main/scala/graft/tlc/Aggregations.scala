package graft.tlc

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The five pre-computed aggregate tables
  * (reference: src/transformations/aggregations.py, plus the
  * declared-but-unpopulated agg_congestion_fee_impact from
  * 04_aggregate_tables.sql:152).
  *
  * Percentiles are EXACT interpolated PERCENTILE_CONT, like the reference's
  * (aggregations.py:33–50), written as Spark's `percentile` inside each
  * table's own aggregate. [[graft.plans.RewritePercentileAgg]] plans them
  * onto [[graft.plans.PercentileAggregate]]'s one aggregate over the
  * distinct values instead of the builtin, whose final merge
  * holds a per-group value-count map in ONE task; on these tables the fares
  * are near-unique doubles, so that buffer grows linearly with the corpus
  * (r13 verdict item 1). The reconstruction is bit-identical to the builtin
  * (PercentileContSpec), NULL group keys included: RawLoader null-fills a
  * missing `PULocationID`, and the rule keeps NULL-keyed groups.
  * `percentile_approx` would not match a DuckDB oracle at all (SURVEY.md
  * §2.4).
  *
  * Scale posture: each table reads the fact once — one hash aggregate
  * over the (group, column, value) rows that carries the table's other
  * aggregates, one exchange, one sorted streaming pass — and joins
  * nothing; no task holds a group's values, since the sort spills
  * (PercentileAggregate's scaladoc). The reference truncate-rebuilds (`DELETE FROM
  * agg_*`, aggregations.py:19,77,129,178); at 100 TB these are written
  * `partitionBy("trip_date")` by `write` and rebuilt only for affected
  * dates by `refresh`.
  */
object Aggregations {

  /** PERCENTILE_CONT(p) WITHIN GROUP (ORDER BY `c`). */
  private[tlc] def pct(c: String, p: Double): Column = percentile(col(c), lit(p))

  private def share(cond: Column): Column =
    sum(when(cond, 1).otherwise(0)).cast("double") / count(lit(1))

  /** agg_pricing_by_zone_hour (aggregations.py:21–62). */
  def pricingByZoneHour(fact: DataFrame): DataFrame = {
    fact
      .filter(col("is_valid") === true && col("price_per_mile").isNotNull &&
        col("price_per_mile").between(0.5, 50))
      .withColumn("trip_date", col("pickup_date"))
      .groupBy("service_type", "pickup_zone_id", "pickup_hour", "trip_date")
      .agg(
        count(lit(1)).as("trip_count"),
        sum(when(col("is_valid"), 1).otherwise(0)).as("valid_trip_count"),
        avg(col("trip_distance_miles")).as("avg_trip_distance"),
        pct("trip_distance_miles", 0.5).as("median_trip_distance"),
        sum(col("trip_distance_miles")).as("total_trip_miles"),
        avg(col("trip_duration_minutes")).as("avg_trip_duration"),
        pct("trip_duration_minutes", 0.5).as("median_trip_duration"),
        avg(col("price_per_mile")).as("avg_price_per_mile"),
        avg(col("price_per_minute")).as("avg_price_per_minute"),
        avg(col("total_fare")).as("avg_total_fare"),
        pct("total_fare", 0.5).as("median_total_fare"),
        sum(col("total_fare")).as("total_revenue"),
        // CBD fee columns are stubbed to 0 pending the real column arriving
        // via schema drift (aggregations.py:53–55; SURVEY.md §7.4 risk 9).
        lit(0).as("trips_with_cbd_fee"),
        lit(0).as("avg_cbd_fee"),
        lit(0).as("total_cbd_fee"),
        pct("price_per_mile", 0.5).as("median_price_per_mile"),
        pct("price_per_mile", 0.25).as("p25_price_per_mile"),
        pct("price_per_mile", 0.75).as("p75_price_per_mile"),
        pct("price_per_minute", 0.5).as("median_price_per_minute"),
        pct("price_per_minute", 0.25).as("p25_price_per_minute"),
        pct("price_per_minute", 0.75).as("p75_price_per_minute"))
  }

  /** agg_hvfhv_take_rates (aggregations.py:79–114). */
  def hvfhvTakeRates(fact: DataFrame): DataFrame = {
    fact
      .filter(col("service_type") === "hvfhv" && col("is_valid") === true &&
        col("take_rate").isNotNull && col("take_rate").between(0, 1))
      .withColumn("trip_date", col("pickup_date"))
      .groupBy("trip_date", "pickup_zone_id", "pickup_hour", "hvfhs_license_num")
      .agg(
        count(lit(1)).as("trip_count"),
        avg(col("trip_distance_miles")).as("avg_trip_distance"),
        avg(col("trip_duration_minutes")).as("avg_trip_duration"),
        avg(col("take_rate")).as("avg_take_rate"),
        stddev(col("take_rate")).as("stddev_take_rate"),
        avg(col("driver_pay")).as("avg_driver_pay"),
        pct("driver_pay", 0.5).as("median_driver_pay"),
        sum(col("driver_pay")).as("total_driver_pay"),
        avg(col("total_fare") - col("driver_pay")).as("avg_platform_commission"),
        sum(col("total_fare") - col("driver_pay")).as("total_platform_commission"),
        avg(col("total_fare")).as("avg_total_fare"),
        sum(col("total_fare")).as("total_revenue"),
        pct("take_rate", 0.5).as("median_take_rate"),
        pct("take_rate", 0.25).as("p25_take_rate"),
        pct("take_rate", 0.75).as("p75_take_rate"))
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
    val base = scoped.groupBy("service_type", "pickup_zone_id", "time_period")
      .agg(
        min(col("pickup_date")).as("start_date"),
        max(col("pickup_date")).as("end_date"),
        count(lit(1)).as("trip_count"),
        (count(lit(1)).cast("double") / countDistinct(col("pickup_date")))
          .as("avg_trips_per_day"),
        avg(col("total_fare")).as("avg_total_fare"),
        pct("total_fare", 0.5).as("median_total_fare"),
        avg(col("price_per_mile")).as("avg_price_per_mile"),
        pct("price_per_mile", 0.5).as("median_price_per_mile"))
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

  /** Every aggregate table, in write order: name → builder over the fact.
    * The full build ([[buildAll]]) and the incremental fold ([[refresh]])
    * both read this list. */
  val tables: Seq[(String, DataFrame => DataFrame)] = Seq(
    "agg_pricing_by_zone_hour" -> pricingByZoneHour,
    "agg_hvfhv_take_rates" -> hvfhvTakeRates,
    "agg_market_share" -> marketShare,
    "agg_daily_summary" -> dailySummary,
    "agg_congestion_fee_impact" -> congestionFeeImpact)

  /** Every aggregate over `fact`, in [[tables]] order. */
  def buildAll(fact: DataFrame): Map[String, DataFrame] =
    tables.map { case (name, build) => name -> build(fact) }.to(ListMap)

  /** Date-grained aggregates carry a trip_date column; period-grained ones
    * (congestion_fee_impact is a before/after summary, aggregations.py's cbd
    * table) have none. */
  private def dateGrained(agg: DataFrame): Boolean = agg.columns.contains("trip_date")

  /** Partitioned overwrite — the scale-friendly replacement for the
    * reference's DELETE + INSERT truncate-rebuild. Date-grained aggregates
    * partition by trip_date; period-grained ones write flat. */
  def write(agg: DataFrame, path: String): Unit =
    if (dateGrained(agg))
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

  /** Incremental rebuild after `dates` of `fact` changed: a date-grained
    * table recomputes ONLY those dates' partitions and overwrites them in
    * place (dynamic partition overwrite), leaving every other date's data
    * untouched. At 100 TB a late-arriving file touches a handful of dates —
    * truncate-rebuild (aggregations.py:19,77,129,178) would rescan the whole
    * fact. The input is pre-filtered so the scan itself partition-prunes. A
    * period-grained table is rewritten whole. The dynamic mode is this
    * write's own option, not the session conf, so concurrent writes in the
    * same session never see each other's mode. */
  def refresh(fact: DataFrame, build: DataFrame => DataFrame,
              dates: Seq[java.sql.Date], path: String): Unit = {
    val scoped = build(filterDates(fact, dates))
    if (dateGrained(scoped))
      scoped.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("trip_date").parquet(path)
    else write(build(fact), path)
  }
}
