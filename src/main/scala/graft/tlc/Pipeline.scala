package graft.tlc

import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end orchestration (reference: src/orchestration/flows.py
  * `full_pipeline_flow`, flows.py:228–294):
  *
  *   raw frames → quality checks → standardize → fact → dims → aggregates
  *   → 14 analytics queries
  *
  * The reference sequences Prefect tasks around an embedded DuckDB; here
  * every stage is lazy DataFrame lineage and only sink writes execute.
  * Downloading (downloader.py) is deliberately NOT part of the engine — it
  * is driver-side I/O that belongs outside the cluster (SURVEY.md §2.1 S4).
  *
  * Scale posture: the fact write is `partitionBy("pickup_date")` (the
  * replacement for the reference's five DuckDB indexes,
  * sql/ddl/03_fact_tables.sql:61–65) so date-range analytics prune
  * partitions, and aggregate rebuilds can be scoped to affected dates.
  */
object Pipeline {

  final case class Result(
    fact: DataFrame,
    tables: TlcTables,
    aggregates: Map[String, DataFrame],
    qualityMetrics: DataFrame,
    analytics: Map[String, () => DataFrame])

  /** Run the full pipeline on pre-loaded raw frames (no I/O here — pass the
    * outputs of RawLoader.load, or fixture frames in tests). The quality
    * checks run eagerly, one scan per frame; everything else is lazy
    * lineage over the raw frames. The Cli does not call this: it runs the
    * quality checks per service side by side, writes the fact, and derives
    * everything downstream from the fact on disk ([[derive]]). */
  def run(spark: SparkSession,
          rawYellow: DataFrame,
          rawGreen: DataFrame,
          rawHvfhv: DataFrame,
          rawTaxiZones: DataFrame): Result = {

    val quality = QualityChecks.metricsFrame(spark, Seq(
      "yellow" -> rawYellow, "green" -> rawGreen, "hvfhv" -> rawHvfhv)
      .map { case (svc, df) => svc -> QualityChecks.runAll(df, svc) })

    val fact = Standardize.all(rawYellow, rawGreen, rawHvfhv)
    val (tables, aggs, analytics) = derive(spark, fact, rawTaxiZones)
    Result(fact, tables, aggs, quality, analytics)
  }

  /** Everything DOWNSTREAM of the fact: dims + aggregate tables + the 14
    * analytics queries, over whatever fact frame is passed. Split out so the
    * Cli can point it at the MATERIALIZED fact_trips it just wrote (the
    * reference's own warehouse design — aggregations.py and every analytics
    * query read the fact TABLE, not the raw-to-fact lineage): without this,
    * each of the 4 aggregate writes and 14 analytics writes re-derived
    * load → standardize from the raw files, a 19× repetition of the most
    * expensive pass at warehouse scale.
    *
    * The aggregates and analytics write their percentiles as Spark's
    * `percentile`; registering the graft pieces here gives a session built
    * without [[graft.GraftExtensions]] the rule that plans them. */
  def derive(spark: SparkSession, fact: DataFrame, rawTaxiZones: DataFrame)
      : (TlcTables, Map[String, DataFrame], Map[String, () => DataFrame]) = {
    graft.GraftExtensions.register(spark)
    val t = tables(spark, fact, rawTaxiZones)
    (t, Aggregations.buildAll(fact), Analytics.all(t))
  }

  /** The warehouse tables the analytics read: `fact`, the five dims and
    * agg_market_share over it. */
  def tables(spark: SparkSession, fact: DataFrame, rawTaxiZones: DataFrame): TlcTables =
    TlcTables(
      fact = fact,
      dimZones = Dimensions.dimZones(rawTaxiZones),
      dimDate = Dimensions.dimDate(spark),
      dimTime = Dimensions.dimTime(spark),
      dimService = Dimensions.dimService(spark),
      dimHvfhsCompany = Dimensions.dimHvfhsCompany(spark),
      aggMarketShare = Aggregations.marketShare(fact))

  /** Persist the fact partitioned by pickup_date (SURVEY.md §7.4 risk 10). */
  def writeFact(fact: DataFrame, path: String): Unit =
    fact.write.mode("overwrite").partitionBy("pickup_date").parquet(path)
}
