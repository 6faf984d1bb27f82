package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** CSV source/sink operators (SURVEY.md §2.1 S3/S10).
  *
  * S3: header CSV scan with schema inference (reference `read_csv_auto` for
  * the zone lookup, schema.py:63–66). S10: CSV export with header
  * (`COPY agg_* TO 'x.csv' (HEADER)`, docs/BUSINESS_INSIGHTS.md:530–537).
  *
  * The query demonstrates a full round trip: parquet → CSV sink → CSV scan
  * with inference → join + aggregate. Only integer/string columns go through
  * the CSV hop so the round trip is bit-exact and the DuckDB oracle (which
  * never sees the CSV) hash-matches.
  */
object CsvOps extends graft.QueryFamily {
  val queries: Map[String, Q] = Map(
    "s3_csv_roundtrip" -> { (s, d) =>
      val dir = Files.createTempDirectory("graft_csv_").toString
      // S10: export nation reference data as header CSV
      Tables.nation(s, d)
        .coalesce(1)
        .write.mode("overwrite").option("header", true).csv(dir)
      // S3: scan it back with header + schema inference
      val nations = s.read
        .option("header", true).option("inferSchema", true)
        .csv(dir)
      val r = Tables.region(s, d)
      nations.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_nations"),
          min(col("n_name")).as("first_nation"),
          max(col("n_name")).as("last_nation"))
        .orderBy("r_name")
    })

  val oracles: Map[String, String] = Map(
    "s3_csv_roundtrip" ->
      """SELECT r_name, COUNT(*) AS n_nations,
                MIN(n_name) AS first_nation, MAX(n_name) AS last_nation
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1 ORDER BY 1""")
}
