package graft.tlc

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The four data-quality checks (reference: src/transformations/
  * quality_checks.py), computed together in one full-scan conditional
  * aggregation per raw table with per-service column dispatch
  * (quality_checks.py:22–25,66–74,106–117,155; `Schemas.columnsFor`).
  *
  * The aggregation is a single `df.agg(sum(when(...)), ...)` — one job, no
  * shuffle beyond the final single-row reduce. `toMetricsFrame` returns the
  * metrics as a DataFrame in the shape of the reference's
  * `data_quality_metrics` table (sql/ddl/03_fact_tables.sql:70–98);
  * persisting it is an idempotent overwrite of the service's partition
  * (quality_checks.py:199–231).
  */
object QualityChecks {

  /** The reference's thresholds (quality_checks.py:17, 101, 151). */
  private val MaxFare = 1000.0
  private val MaxSpeedMph = 100.0
  private val MaxDist = 500.0

  final case class CheckResult(
    checkType: String, totalRows: Long, passedRows: Long, failedRows: Long,
    failureRate: Double, details: Map[String, String])

  /** All four checks for one raw table (quality_checks.py:188–197) in ONE
    * scan: the reference issues four separate full-table queries; at 100 TB
    * that is three scans too many. A single conditional aggregation computes
    * every metric (the speed check's `WHERE distance > 0` scope becomes a
    * conditional count), and the four CheckResults are assembled from the
    * one collected row. */
  def runAll(df: DataFrame, service: String): Seq[CheckResult] = {
    val c = Schemas.columnsFor(service)
    val epochS = unix_timestamp(col(c.dropoff)) - unix_timestamp(col(c.pickup))
    val r = df.agg(
      count(lit(1)).as("total"),
      sum(when(col(c.fare) < 0, 1).otherwise(0)).as("neg_fare"),
      sum(when(col(c.fare) > MaxFare, 1).otherwise(0)).as("exc_fare"),
      min(col(c.fare)).as("min_fare"),
      max(col(c.fare)).as("max_fare"),
      avg(col(c.fare)).as("avg_fare"),
      sum(when(col(c.dropoff) < col(c.pickup), 1).otherwise(0)).as("rev_ts"),
      sum(when(col(c.pickup).isNull || col(c.dropoff).isNull, 1).otherwise(0))
        .as("null_ts"),
      sum(when(col(c.distance) > 0, 1).otherwise(0)).as("dist_pos"),
      sum(when(col(c.distance) > 0 && epochS > 0 &&
        col(c.distance) / (epochS / 3600.0) > MaxSpeedMph, 1).otherwise(0))
        .as("exc_speed"),
      sum(when(col(c.distance) < 0, 1).otherwise(0)).as("neg_dist"),
      sum(when(col(c.distance) > MaxDist, 1).otherwise(0)).as("exc_dist"),
      avg(col(c.distance)).as("avg_dist")).head()
    val total = r.getLong(0)
    def rate(failed: Long, of: Long) = if (of > 0) failed.toDouble / of else 0.0
    val (negF, excF) = (r.getLong(1), r.getLong(2))
    val (revTs, nullTs) = (r.getLong(6), r.getLong(7))
    val (distPos, excSpeed) = (r.getLong(8), r.getLong(9))
    val (negD, excD) = (r.getLong(10), r.getLong(11))
    Seq(
      CheckResult("fare_validation", total, total - negF - excF, negF + excF,
        rate(negF + excF, total),
        Map("negative_fares" -> negF.toString, "excessive_fares" -> excF.toString,
          "min_fare" -> s"${r.get(3)}", "max_fare" -> s"${r.get(4)}",
          "avg_fare" -> s"${r.get(5)}")),
      CheckResult("timestamp_validation", total, total - revTs - nullTs,
        revTs + nullTs, rate(revTs + nullTs, total),
        Map("invalid_order" -> revTs.toString, "null_timestamps" -> nullTs.toString)),
      CheckResult("speed_validation", distPos, distPos - excSpeed, excSpeed,
        rate(excSpeed, distPos),
        Map("excessive_speed" -> excSpeed.toString,
          "max_speed_mph" -> MaxSpeedMph.toString)),
      CheckResult("distance_validation", total, total - negD - excD, negD + excD,
        rate(negD + excD, total),
        Map("negative_distance" -> negD.toString,
          "excessive_distance" -> excD.toString, "avg_distance" -> s"${r.get(12)}")))
  }

  /** The row count of the table `results` checked: the fare check covers
    * every row (the speed check covers only those with a distance). */
  def rowCount(results: Seq[CheckResult]): Long =
    results.find(_.checkType == "fare_validation").get.totalRows

  /** Every service's results → one data_quality_metrics frame, services in
    * the given order. */
  def metricsFrame(spark: org.apache.spark.sql.SparkSession,
                   results: Seq[(String, Seq[CheckResult])]): DataFrame =
    results.map { case (svc, r) => toMetricsFrame(spark, svc, r) }.reduce(_ unionByName _)

  /** Results → data_quality_metrics-shaped frame. */
  def toMetricsFrame(spark: org.apache.spark.sql.SparkSession,
                     service: String, results: Seq[CheckResult]): DataFrame = {
    import spark.implicits._
    results.map(r => (
      s"raw_${service}_${r.checkType}_${r.totalRows}", service, r.checkType,
      r.totalRows, r.passedRows, r.failedRows, r.failureRate, r.details.toString))
      .toDF("check_id", "service_type", "check_type", "total_rows",
        "passed_rows", "failed_rows", "failure_rate", "details")
  }
}
