package graft.tlc

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Reference-derived fixtures mirroring /root/reference/tests/conftest.py
  * (see FIXTURES.md §A) so the reference's expected values carry over. */
object Fixtures {

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  def sparkSession(): SparkSession = graft.Session.local("graft-tlc-tests")

  /** `body` with the session conf `kv` set, restored afterwards. Reference
    * forms are computed (collected) inside, e.g. with a graft rule off, so
    * they plan the way Spark's builtins do. */
  def withConf[T](spark: SparkSession, kv: (String, String))(body: => T): T = {
    val (k, v) = kv
    val was = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally was.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** Session confs that turn each graft optimizer rule off. */
  val builtinPercentile: (String, String) = "spark.graft.sqlPercentileRewrite" -> "false"
  val builtinTopK: (String, String) =
    "spark.sql.optimizer.excludedRules" -> "graft.plans.RewriteTopKWindow"

  /** conftest.py:42–77 — 4 yellow rows on 2024-06-01 (a Saturday). */
  def yellow(spark: SparkSession): DataFrame = {
    val rows = Seq(
      Row(1, ts("2024-06-01 10:00:00"), ts("2024-06-01 10:15:00"), 1.0, 2.5, 1.0,
        "N", 161, 237, 1, 12.5, 0.5, 0.5, 2.5, 0.0, 0.3, 16.3, 2.5, 0.0),
      Row(2, ts("2024-06-01 11:00:00"), ts("2024-06-01 11:20:00"), 2.0, 5.0, 1.0,
        "N", 237, 142, 1, 25.0, 0.5, 0.5, 5.0, 0.0, 0.3, 31.3, 2.5, 0.0),
      Row(1, ts("2024-06-01 12:00:00"), ts("2024-06-01 12:30:00"), 1.0, 3.2, 1.0,
        "N", 142, 236, 2, 16.0, 0.5, 0.5, 0.0, 5.76, 0.3, 23.06, 2.5, 0.0),
      Row(2, ts("2024-06-01 13:00:00"), ts("2024-06-01 13:10:00"), 3.0, 1.8, 1.0,
        "N", 236, 161, 1, 9.5, 0.5, 0.5, 2.0, 0.0, 0.3, 12.8, 2.5, 0.0))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Schemas.rawYellow)
      .withColumn("source_file", org.apache.spark.sql.functions.lit("yellow_fixture.parquet"))
  }

  /** conftest.py:80–114 — 3 green rows. */
  def green(spark: SparkSession): DataFrame = {
    val rows = Seq(
      Row(1, ts("2024-06-01 10:00:00"), ts("2024-06-01 10:20:00"), "N", 1.0,
        74, 75, 1.0, 3.0, 15.0, 0.5, 0.5, 3.0, 0.0, null, 0.3, 19.3, 1, 1.0, 2.5),
      Row(2, ts("2024-06-01 11:00:00"), ts("2024-06-01 11:25:00"), "N", 1.0,
        75, 41, 2.0, 4.5, 22.5, 0.5, 0.5, 4.5, 0.0, null, 0.3, 28.3, 1, 1.0, 2.5),
      Row(1, ts("2024-06-01 12:00:00"), ts("2024-06-01 12:35:00"), "N", 1.0,
        41, 74, 1.0, 2.8, 14.0, 0.5, 0.5, 0.0, 5.76, null, 0.3, 21.06, 2, 1.0, 2.5))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Schemas.rawGreen)
      .withColumn("source_file", org.apache.spark.sql.functions.lit("green_fixture.parquet"))
  }

  /** conftest.py:117–163 — 3 HVFHV rows (trip_time in seconds). */
  def hvfhv(spark: SparkSession): DataFrame = {
    val rows = Seq(
      Row("HV0003", "B02764", "B02764", ts("2024-06-01 10:00:00"),
        ts("2024-06-01 10:05:00"), ts("2024-06-01 10:10:00"), ts("2024-06-01 10:25:00"),
        161L, 237L, 2.8, 900L, 15.5, 0.0, 0.47, 1.37, 2.75, 0.0, 3.0, 12.5,
        "N", "N", " ", "N", "N"),
      Row("HV0005", "B02510", "B02510", ts("2024-06-01 11:00:00"),
        ts("2024-06-01 11:03:00"), ts("2024-06-01 11:08:00"), ts("2024-06-01 11:30:00"),
        237L, 142L, 5.2, 1320L, 28.0, 0.0, 0.84, 2.48, 2.75, 0.0, 5.5, 22.0,
        "N", "N", " ", "N", "N"),
      Row("HV0003", "B02764", "B02764", ts("2024-06-01 12:00:00"),
        ts("2024-06-01 12:04:00"), ts("2024-06-01 12:08:00"), ts("2024-06-01 12:40:00"),
        142L, 236L, 3.5, 1920L, 20.0, 5.76, 0.60, 1.77, 2.75, 0.0, 0.0, 16.0,
        "Y", "N", " ", "N", "N"))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Schemas.rawHvfhv)
      .withColumn("source_file", org.apache.spark.sql.functions.lit("hvfhv_fixture.parquet"))
  }

  /** conftest.py:166–215 — 12 zones incl. EWR + Unknown 264/265. */
  def zones(spark: SparkSession): DataFrame = {
    val rows = Seq(
      Row(1, "EWR", "Newark Airport", "EWR"),
      Row(4, "Manhattan", "Alphabet City", "Yellow Zone"),
      Row(13, "Manhattan", "Battery Park", "Yellow Zone"),
      Row(41, "Queens", "Flushing", "Boro Zone"),
      Row(74, "Queens", "Corona", "Boro Zone"),
      Row(75, "Queens", "East Elmhurst", "Boro Zone"),
      Row(142, "Manhattan", "Lincoln Square East", "Yellow Zone"),
      Row(161, "Manhattan", "Midtown Center", "Yellow Zone"),
      Row(236, "Manhattan", "Upper East Side South", "Yellow Zone"),
      Row(237, "Manhattan", "Upper West Side South", "Yellow Zone"),
      Row(264, "Unknown", "NV", "N/A"),
      Row(265, "Unknown", "NV", "N/A"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows), Schemas.rawTaxiZones)
  }
}
