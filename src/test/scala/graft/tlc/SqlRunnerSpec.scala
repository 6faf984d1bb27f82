package graft.tlc

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row

/** The file-driven SQL path (reference cli.py:279–297 `run-analytics`) must
  * agree with the DataFrame path: same warehouse, same answer. Also pins
  * the script splitter's comment/quote handling — the part of the runner
  * that isn't Catalyst's job. */
class SqlRunnerSpec extends AnyFunSuite {
  lazy val spark = Fixtures.sparkSession()

  test("splitStatements strips comments and respects quoted semicolons") {
    val script =
      """-- leading comment; with a semicolon
        |CREATE TEMP VIEW v AS SELECT 1 AS x; /* block; comment */
        |SELECT 'a;b' AS s, "c" FROM (SELECT 2 AS c); -- trailing
        |""".stripMargin
    val stmts = SqlRunner.splitStatements(script)
    assert(stmts.length == 2)
    assert(stmts.head.startsWith("CREATE TEMP VIEW"))
    assert(stmts(1).contains("'a;b'"))
    assert(!stmts(1).contains("--"))
  }

  test("splitStatements keeps -- inside string literals") {
    val stmts = SqlRunner.splitStatements("SELECT 'x--y' AS s")
    assert(stmts == Seq("SELECT 'x--y' AS s"))
  }

  test("a missing SQL file is named by its absolute path and the working directory") {
    val cwd = java.nio.file.Paths.get("").toAbsolutePath
    val err = intercept[java.io.FileNotFoundException] {
      SqlRunner.runFile(spark, "sql/analytics/99_no_such_query.sql")
    }
    assert(err.getMessage.contains(cwd.resolve("sql/analytics/99_no_such_query.sql").toString),
      err.getMessage)
    assert(err.getMessage.contains(s"working directory $cwd"), err.getMessage)
  }

  test("runScript returns the last statement's result") {
    val df = SqlRunner.runScript(spark,
      "CREATE OR REPLACE TEMP VIEW t_sqlrunner AS SELECT 41 AS v; SELECT v + 1 AS ans FROM t_sqlrunner;")
    assert(df.collect().toSeq == Seq(Row(42)))
  }

  private def collectSorted(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => f"$d%.4f"
      case other => String.valueOf(other)
    }).sortBy(_.mkString("|"))

  // Every shipped analytics .sql file must agree with its DataFrame twin
  // over the scaled fixture warehouse: same columns, same rows (doubles
  // compared at 4 decimals — the files' tie-stable ROUNDs are coarser).
  private val sqlFiles = Seq(
    "01_top_zones_by_revenue.sql" -> "01_top_zones_by_revenue",
    "02_hourly_demand_patterns.sql" -> "02_hourly_demand_patterns",
    "03_market_share_trends.sql" -> "03_market_share_trends",
    "04_hvfhv_platform_economics.sql" -> "04_hvfhv_platform_economics",
    "05_pricing_comparison.sql" -> "05_pricing_comparison",
    "06_airport_trips_analysis.sql" -> "06_airport_trips_analysis",
    "07_weekend_vs_weekday.sql" -> "07_weekend_vs_weekday",
    "08_shared_rides_analysis.sql" -> "08_shared_rides_analysis",
    "09_borough_comparison.sql" -> "09_borough_comparison",
    "10_data_quality_summary.sql" -> "10_data_quality_summary",
    "11_uber_lyft_vs_taxi_pricing_by_zone_hour.sql" -> "11_uber_lyft_vs_taxi_pricing",
    "12_cbd_congestion_fee_impact.sql" -> "12_cbd_congestion_fee_impact",
    "13_hvfhv_take_rate_variance_analysis.sql" -> "13_hvfhv_take_rate_variance",
    "14_market_share_shift_vs_pricing.sql" -> "14_market_share_shift_vs_pricing")

  sqlFiles.foreach { case (file, key) =>
    test(s"file-driven $file matches the DataFrame implementation") {
      val t = graft.TlcScaledDemo.tables(spark)
      SqlRunner.registerViews(t)
      val sqlResult = SqlRunner.runFile(spark, s"sql/analytics/$file")
      val dfResult = Analytics.all(t)(key)()
      assert(sqlResult.columns.toSeq == dfResult.columns.toSeq)
      assert(collectSorted(sqlResult) == collectSorted(dfResult))
    }
  }

  test("registerWarehouse registers the Cli's parquet layout as views") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wh").toFile
    try {
      val t = graft.TlcScaledDemo.tables(spark)
      t.dimZones.write.mode("overwrite").parquet(s"${dir.getPath}/dim_zones")
      t.dimService.write.mode("overwrite").parquet(s"${dir.getPath}/dim_service")
      val views = SqlRunner.registerWarehouse(spark, dir.getPath)
      assert(views == Seq("dim_service", "dim_zones"))
      assert(spark.sql("SELECT COUNT(*) FROM dim_zones").collect()(0).getLong(0) == 6L)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }
}
