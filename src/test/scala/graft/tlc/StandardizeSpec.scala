package graft.tlc

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Mirrors the reference's transformation semantics tests
  * (tests/test_transformations.py) on the conftest fixtures. */
class StandardizeSpec extends AnyFunSuite {
  lazy val spark = Fixtures.sparkSession()

  lazy val yellowFact = Standardize.yellow(Fixtures.yellow(spark)).cache()
  lazy val hvfhvFact = Standardize.hvfhv(Fixtures.hvfhv(spark)).cache()

  test("yellow standardization: durations 15/20/30/10 minutes") {
    val d = yellowFact.orderBy("pickup_datetime")
      .select("trip_duration_minutes").collect().map(_.getDouble(0))
    assert(d.toSeq == Seq(15.0, 20.0, 30.0, 10.0))
  }

  test("price_per_mile = total/distance; zero distance yields NULL (test_transformations.py:89–112)") {
    val ppm = yellowFact.orderBy("pickup_datetime")
      .select("price_per_mile").collect().map(_.getDouble(0))
    assert(math.abs(ppm(0) - 16.3 / 2.5) < 1e-12)
    // zero-distance row through the same projection
    val zero = Standardize.yellow(
      Fixtures.yellow(spark).withColumn("trip_distance", lit(0.0)))
      .select("price_per_mile").collect()
    assert(zero.forall(_.isNullAt(0)))
  }

  test("avg_speed_mph from epoch seconds (test_transformations.py:115–159)") {
    // row 0: 2.5 mi in 15 min → 10 mph
    val mph = yellowFact.orderBy("pickup_datetime")
      .select("avg_speed_mph").head().getDouble(0)
    assert(math.abs(mph - 10.0) < 1e-9)
  }

  test("take_rate edges: (100,100)→0, (100,0)→1, (0,0)→NULL (test_transformations.py:162–215)") {
    val base = Fixtures.hvfhv(spark).limit(1)
    def rate(fare: Double, pay: Double): Option[Double] = {
      val f = Standardize.hvfhv(base
        .withColumn("base_passenger_fare", lit(fare))
        .withColumn("tips", lit(0.0)).withColumn("tolls", lit(0.0))
        .withColumn("bcf", lit(0.0)).withColumn("sales_tax", lit(0.0))
        .withColumn("congestion_surcharge", lit(0.0))
        .withColumn("airport_fee", lit(0.0))
        .withColumn("driver_pay", lit(pay)))
      val r = f.select("take_rate").head()
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }
    assert(rate(100.0, 100.0).contains(0.0))
    assert(rate(100.0, 0.0).contains(1.0))
    assert(rate(0.0, 0.0).isEmpty)
  }

  test("is_valid truth table (test_transformations.py:218–315)") {
    assert(yellowFact.filter(col("is_valid")).count() == 4)
    val negFare = Standardize.yellow(
      Fixtures.yellow(spark).withColumn("total_amount", lit(-5.0)))
    assert(negFare.filter(col("is_valid")).count() == 0)
    val reversed = Standardize.yellow(Fixtures.yellow(spark)
      .withColumn("tpep_dropoff_datetime",
        col("tpep_pickup_datetime") - expr("INTERVAL 1 MINUTE")))
    assert(reversed.filter(col("is_valid")).count() == 0)
    // hvfhv adds driver_pay >= 0 to validity (standardize.py:216)
    val negPay = Standardize.hvfhv(
      Fixtures.hvfhv(spark).withColumn("driver_pay", lit(-1.0)))
    assert(negPay.filter(col("is_valid")).count() == 0)
  }

  test("DOW pin: 2024-06-01 is Saturday = 6 in DuckDB convention (test_transformations.py:337–344)") {
    val dows = yellowFact.select("pickup_day_of_week").distinct().collect()
    assert(dows.map(_.getInt(0)).toSeq == Seq(6))
  }

  test("hvfhv total_fare composed from 7 addends; fixture row 0 = 23.09") {
    val total = hvfhvFact.orderBy("pickup_datetime")
      .select("total_fare").head().getDouble(0)
    assert(math.abs(total - (15.5 + 3.0 + 0.0 + 0.47 + 1.37 + 2.75 + 0.0)) < 1e-9)
  }

  test("trip ids are deterministic content hashes, unique on fixtures") {
    val fact = Standardize.all(
      Fixtures.yellow(spark), Fixtures.green(spark), Fixtures.hvfhv(spark))
    assert(fact.count() == 10)
    assert(fact.select("trip_id").distinct().count() == 10)
    val again = Standardize.all(
      Fixtures.yellow(spark), Fixtures.green(spark), Fixtures.hvfhv(spark))
    assert(fact.select("trip_id").except(again.select("trip_id")).count() == 0)
  }

  test("taxi trip_id is md5 of tag + pickup + distance: 'y' for yellow, 'g' for green") {
    def md5Hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    for ((raw, standardize, tag, pickup) <- Seq(
        (Fixtures.yellow(spark), Standardize.yellow _, "y", "tpep_pickup_datetime"),
        (Fixtures.green(spark), Standardize.green _, "g", "lpep_pickup_datetime"))) {
      val row = raw.orderBy(pickup).limit(1)
      val Row(pickupStr: String, distStr: String) = row
        .select(col(pickup).cast("string"), col("trip_distance").cast("string")).head()
      val id = standardize(row).select("trip_id").head().getString(0)
      assert(id == md5Hex(tag + pickupStr + distStr), s"$tag: $pickupStr, $distStr")
    }
  }

  test("green carries NULL airport_fee (standardize.py:117)") {
    val g = Standardize.green(Fixtures.green(spark))
    assert(g.filter(col("airport_fee").isNull).count() == 3)
  }
}
