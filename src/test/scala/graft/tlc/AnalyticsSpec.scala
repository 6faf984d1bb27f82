package graft.tlc

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end: pipeline over the conftest fixtures, then all 14 analytics
  * queries execute and return sane results (the reference's only e2e gate is
  * "ALL 14 QUERIES WORKING", docs/BUSINESS_INSIGHTS.md:558 — we assert
  * per-query semantics on the fixture values too). */
class AnalyticsSpec extends AnyFunSuite {
  lazy val spark = Fixtures.sparkSession()

  lazy val result = Pipeline.run(spark,
    Fixtures.yellow(spark), Fixtures.green(spark), Fixtures.hvfhv(spark),
    Fixtures.zones(spark))

  test("pipeline produces a 10-row fact with the declared schema") {
    assert(result.fact.count() == 10)
    assert(result.fact.columns.toSeq == Schemas.factColumns)
  }

  test("quality metrics cover 4 checks × 3 services") {
    assert(result.qualityMetrics.count() == 12)
    assert(result.qualityMetrics.filter(col("failed_rows") > 0).count() == 0)
  }

  test("all 14 analytics queries execute") {
    result.analytics.foreach { case (name, mk) =>
      val df = mk()
      val n = df.count() // forces full execution
      assert(n >= 0, s"$name failed")
    }
  }

  test("CacheScope.drain releases q14's checkpointed frames") {
    val q = result.analytics("14_market_share_shift_vs_pricing")()
    q.collect()
    val checkpoints = q.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet
    assert(checkpoints.nonEmpty, "q14 checkpoints its bounded frames")
    assert(checkpoints.subsetOf(spark.sparkContext.getPersistentRDDs.keySet))
    graft.CacheScope.drain(blocking = true)
    val left = checkpoints.intersect(spark.sparkContext.getPersistentRDDs.keySet)
    assert(left.isEmpty, s"checkpoint RDDs still persisted after drain: $left")
  }

  test("q01 top zones: Midtown Center revenue = yellow 16.3 + hvfhv 23.09") {
    val q = result.analytics("01_top_zones_by_revenue")()
    val midtown = q.filter(col("pickup_zone") === "Midtown Center").head()
    assert(midtown.getAs[Long]("total_trips") == 2)
    assert(math.abs(midtown.getAs[Double]("total_revenue") - (16.3 + 23.09)) < 1e-9)
  }

  test("q02 hourly demand: hour 10 has 3 trips (one per service)") {
    val q = result.analytics("02_hourly_demand_patterns")()
    val h10 = q.filter(col("hour") === 10).head()
    assert(h10.getAs[Long]("yellow_trips") == 1)
    assert(h10.getAs[Long]("green_trips") == 1)
    assert(h10.getAs[Long]("hvfhv_trips") == 1)
  }

  test("q05 pricing comparison covers all 3 services within bands") {
    val q = result.analytics("05_pricing_comparison")()
    assert(q.select("service_type").collect().map(_.getString(0)).toSet ==
      Set("yellow", "green", "hvfhv"))
  }

  test("q08 shared rides: fixture has 1 'Requested but Not Matched' of 3 (33.33%)") {
    val q = result.analytics("08_shared_rides_analysis")()
    val req = q.filter(col("shared_status") === "Requested but Not Matched").head()
    assert(req.getAs[Long]("trip_count") == 1)
    assert(math.abs(req.getAs[Double]("percentage") - 33.33) < 1e-9)
  }

  test("q10 data quality: every service 100% valid on fixtures") {
    val q = result.analytics("10_data_quality_summary")()
    assert(q.count() == 3)
    assert(q.filter(col("data_quality_pct") === 100.0).count() == 3)
  }

  test("q13 take-rate variance: June 2024 rows for Uber and Lyft") {
    val q = result.analytics("13_hvfhv_take_rate_variance")()
    val companies = q.select("company_name").collect().map(_.getString(0)).toSet
    assert(companies == Set("Uber", "Lyft"))
    val uber = q.filter(col("company_name") === "Uber").head()
    assert(uber.getAs[Long]("trip_count") == 2)
  }

  test("aggregate tables build; daily summary matches fixture counts") {
    val daily = result.aggregates("agg_daily_summary")
    assert(daily.count() == 1) // all fixture trips on 2024-06-01
    val row = daily.head()
    assert(row.getAs[Long]("total_trips") == 10)
    assert(row.getAs[Long]("yellow_trips") == 4)
    assert(row.getAs[Long]("green_trips") == 3)
    assert(row.getAs[Long]("hvfhv_trips") == 3)
    assert(row.getAs[Double]("data_quality_score") == 1.0)
  }

  test("agg_pricing_by_zone_hour: fixture yellow zone 161 hour 10 values") {
    val p = result.aggregates("agg_pricing_by_zone_hour")
      .filter(col("service_type") === "yellow" && col("pickup_zone_id") === 161 &&
        col("pickup_hour") === 10)
    val row = p.head()
    assert(row.getAs[Long]("trip_count") == 1)
    // single trip: median == avg == the trip's price_per_mile = 16.3/2.5
    assert(math.abs(row.getAs[Double]("median_price_per_mile") - 16.3 / 2.5) < 1e-9)
    assert(math.abs(row.getAs[Double]("p25_price_per_mile") - 16.3 / 2.5) < 1e-9)
    assert(math.abs(row.getAs[Double]("total_revenue") - 16.3) < 1e-9)
  }

  test("agg_hvfhv_take_rates enforces the >=5 trips HAVING (aggregations.py:113)") {
    // only 3 hvfhv fixture trips, all in distinct zone/hour groups
    assert(result.aggregates("agg_hvfhv_take_rates").count() == 0)
  }

  test("q04 platform economics: Uber take-rate math on fixture rows") {
    val q = result.analytics("04_hvfhv_platform_economics")()
    val uber = q.filter(col("company_name") === "Uber").head()
    assert(uber.getAs[Long]("total_trips") == 2)
    // trip totals: 23.09 and 30.88; commissions: 23.09-12.5, 30.88-16.0
    assert(math.abs(uber.getAs[Double]("total_gross_revenue") - (23.09 + 30.88)) < 1e-9)
    assert(math.abs(uber.getAs[Double]("total_driver_pay") - 28.5) < 1e-9)
  }

  test("agg_market_share respects the >=10 trips HAVING (aggregations.py:162)") {
    // fixture zones have at most 2 trips/zone/day → empty after HAVING
    assert(result.aggregates("agg_market_share").count() == 0)
  }

  test("NULL pickup zones: agg-table percentiles equal the rule-off builtin") {
    // RawLoader null-fills a missing PULocationID and is_valid never tests
    // the zone, so a NULL-zone group is a real group. Six shifted copies of
    // the fixture fact, zone NULL, hour 10, three days each side of the
    // congestion-fee cutover: every hvfhs_license_num HV0003 group keeps
    // the >= 5 trips of agg_hvfhv_take_rates' HAVING.
    val nullZone = result.fact
      .crossJoin(spark.range(6).withColumnRenamed("id", "k"))
      .withColumn("pickup_zone_id", lit(null).cast("int"))
      .withColumn("pickup_hour", lit(10))
      .withColumn("pickup_date",
        when(col("k") < 3, lit("2024-12-20")).otherwise(lit("2025-01-06")).cast("date"))
      .withColumn("total_fare", col("total_fare") + col("k") * 0.37)
      .withColumn("trip_distance_miles", col("trip_distance_miles") + col("k") * 0.1)
      .withColumn("trip_duration_minutes", col("trip_duration_minutes") + col("k"))
      .withColumn("price_per_mile", col("price_per_mile") + col("k") * 0.13)
      .withColumn("price_per_minute", col("price_per_minute") + col("k") * 0.011)
      .withColumn("driver_pay", col("driver_pay") + col("k") * 0.5)
      .withColumn("take_rate", col("take_rate") * (lit(1.0) - col("k") * 0.01))
      .drop("k")
    val fact = result.fact.unionByName(nullZone)
    val tables = Seq[(DataFrame => DataFrame, Seq[String])](
      (Aggregations.pricingByZoneHour,
        Seq("service_type", "pickup_zone_id", "pickup_hour", "trip_date")),
      (Aggregations.hvfhvTakeRates,
        Seq("trip_date", "pickup_zone_id", "pickup_hour", "hvfhs_license_num")),
      (Aggregations.congestionFeeImpact, Seq("service_type", "pickup_zone_id", "time_period")))
    for ((build, keys) <- tables) {
      val pcts = build(fact).columns.filter(c => c.startsWith("median_") || c.matches("p\\d+_.*"))
      def rows(df: DataFrame): Seq[Row] =
        df.filter(col("pickup_zone_id").isNull).select((keys ++ pcts).map(col): _*)
          .orderBy(keys.map(col): _*).collect().toSeq
      val got = rows(build(fact))
      val want = Fixtures.withConf(spark, Fixtures.builtinPercentile)(rows(build(fact)))
      assert(got.nonEmpty && got.size == want.size, s"$keys: $got vs $want")
      for ((g, w) <- got.zip(want); c <- pcts) {
        val (gv, wv) = (g.getAs[java.lang.Double](c), w.getAs[java.lang.Double](c))
        // the builtin computes a real value for every group here
        assert(wv != null && gv == wv,
          s"$keys $c of ${g.toSeq.take(keys.size)}: $gv vs rule-off $wv")
      }
    }
  }
}
