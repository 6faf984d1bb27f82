package graft

import java.io.PrintStream
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._
import graft.tlc.{Cli, Downloader, Fixtures, RawLoader, Schemas, SqlRunner}

/** End-to-end Cli drive over real files: write the scaled fixture's raw
  * service frames to disk, run the full load → quality → fact → aggregate →
  * analytics pipeline through Cli's entry (session-injected), and check the
  * warehouse layout a downstream `run-analytics` user depends on. */
class CliE2eSpec extends AnyFunSuite {
  lazy val spark = Fixtures.sparkSession()

  private val Timing = """\[timing\] stage=(\S+) seconds=.*""".r

  /** Runs `body` and returns the jobs each Cli stage submitted, in stage
    * order: a stage's jobs are those submitted after the previous
    * `[timing]` line and before its own (stages are barriers, so every job
    * of a stage runs inside that window). */
  private def jobsByStage(body: => Unit): Seq[(String, Int)] = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val stages = mutable.ArrayBuffer.empty[(String, Int)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val err = System.err
    val tap = new PrintStream(err, true) {
      override def println(line: String): Unit = {
        line match {
          case Timing(stage) =>
            ListenerBusAccess.drain(sc)
            stages.synchronized(stages += stage -> jobs.getAndSet(0))
          case _ =>
        }
        super.println(line)
      }
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    System.setErr(tap)
    try body
    finally {
      System.setErr(err)
      sc.removeSparkListener(listener)
    }
    stages.toSeq
  }

  /** The jobs submitted before the `standardize` stage began. */
  private def beforeStandardize(stages: Seq[(String, Int)]): Int =
    stages.takeWhile(_._1 != "standardize").map(_._2).sum

  /** Every data file under `dir` with its size and modification time. */
  private def files(dir: String): Map[String, (Long, Long)] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      root.relativize(f).toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)
    }.toMap
    finally walk.close()
  }

  test("cli pipeline produces the full warehouse layout from raw files") {
    val dir = Files.createTempDirectory("graft_cli_e2e").toString
    val (y, g, h, z) = TlcScaledDemo.rawFixture(spark)
    y.write.mode("overwrite").parquet(s"$dir/yellow.parquet")
    g.write.mode("overwrite").parquet(s"$dir/green.parquet")
    h.write.mode("overwrite").parquet(s"$dir/hvfhv.parquet")
    z.coalesce(1).write.mode("overwrite").option("header", true).csv(s"$dir/zones_csv")
    val zonesCsv = Files.list(Paths.get(s"$dir/zones_csv")).toArray
      .map(_.toString).filter(_.endsWith(".csv")).head

    val out = s"$dir/warehouse"
    Cli.runPipeline(spark, Map(
      "yellow" -> s"$dir/yellow.parquet",
      "green" -> s"$dir/green.parquet",
      "hvfhv" -> s"$dir/hvfhv.parquet",
      "zones" -> zonesCsv,
      "out" -> out))

    // The warehouse layout run-analytics registers (SqlRunner views).
    val expectedDirs = Seq(
      "fact_trips", "data_quality_metrics", "ingestion_log",
      "dim_zones", "dim_date", "dim_time", "dim_service", "dim_hvfhs_company")
    expectedDirs.foreach { d =>
      assert(Files.exists(Paths.get(out, d)), s"missing warehouse dir: $d")
    }
    val fact = spark.read.parquet(s"$out/fact_trips")
    assert(fact.count() == 22320, "all fixture trips standardized into the fact")
    // fact is partitioned by pickup_date (partition pruning surface).
    assert(Files.list(Paths.get(out, "fact_trips")).toArray
      .exists(_.toString.contains("pickup_date=")))
    // One ingestion_log row per raw file, all completed.
    val log = spark.read.parquet(s"$out/ingestion_log")
    assert(log.count() == 3)
    assert(log.filter("status = 'completed'").count() == 3)
    // All 14 analytics queries materialized with rows.
    val analytics = Files.list(Paths.get(out, "analytics")).toArray.map(_.toString)
    assert(analytics.length == 14, s"expected 14 analytics outputs: ${analytics.toSeq}")
    assert(spark.read.parquet(s"$out/analytics/01_top_zones_by_revenue").count() > 0)

    // run-analytics over the written warehouse: the trip_date-partitioned
    // aggregates register as views too, so q03's SQL file (which reads
    // agg_market_share) answers what Cli wrote for it
    val views = SqlRunner.registerWarehouse(spark, out)
    try {
      assert(views.contains("agg_market_share"), s"views: $views")
      val sql = SqlRunner.runFile(spark, "sql/analytics/03_market_share_trends.sql")
      val written = spark.read.parquet(s"$out/analytics/03_market_share_trends")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(sql.columns.toSeq.map(col): _*).collect().toSeq.map(_.toSeq.map {
          case d: Double => f"$d%.4f"
          case other => String.valueOf(other)
        }).sortBy(_.mkString("|"))
      val got = rows(sql)
      assert(got.nonEmpty)
      assert(got == rows(written), "q03's SQL result differs from Cli's analytics output")
    } finally views.foreach(spark.catalog.dropTempView)
  }

  /** The reference's full operational story in one spec: download-skip →
    * drift-tolerant load → quality → standardize → aggregate → query 01 on
    * disk, over a monthly file layout with DRIFT INJECTED per service —
    * exactly the three drift classes of schema_drift.py:75–168 (new column
    * reported+ignored; removed column null-filled; INTEGER↔DOUBLE-family
    * type change cast through; anything else → manual intervention). */
  test("cli e2e over monthly drops with injected schema drift") {
    val dir = Files.createTempDirectory("graft_cli_drift").toString
    val (y, g, h, z) = TlcScaledDemo.rawFixture(spark)

    // -- download step: fake transport, one month pre-existing → skipped --
    val dlDir = Paths.get(dir, "raw")
    Files.createDirectories(dlDir)
    val preExisting = dlDir.resolve(Downloader.fileName("yellow", 2024, 11))
    Files.write(preExisting, "already-here".getBytes)
    val fake = new Downloader.Fetcher {
      def fetch(url: String): Downloader.Fetched =
        Downloader.Body(s"payload:$url".getBytes)
    }
    val results = Downloader.downloadRange(fake, dlDir.toString,
      2024, 11, 2025, 1, skipIfExists = true)
    // 3 services × 3 months + zones = 10 jobs; the pre-existing month is
    // skipped (idempotent re-run), everything else fetched.
    assert(results.size == 10)
    assert(results.count(_.status == "skipped") == 1)
    assert(results.find(_.status == "skipped").get.destPath == preExisting.toString)
    assert(results.count(_.status == "success") == 9)

    // -- monthly parquet layout with injected drift ----------------------
    // yellow: NEW column (batch_tag) — reported, not loaded.
    // green: REMOVED column (improvement_surcharge) — null-filled.
    // hvfhv: tolerated TYPE CHANGES (trip_time BIGINT→INT, bcf DOUBLE→FLOAT)
    //        — cast back to the expected types at read.
    // One FILE per month inside the service dir (the TLC monthly-drop
    // layout): each month writes to a staging dir, its single part file
    // moves up as mYYYY-MM.parquet.
    def monthly(df0: org.apache.spark.sql.DataFrame, tsCol: String,
                sub: String): String = {
      // real TLC drops carry no lineage column — the loader appends its own
      val df = df0.drop("source_file")
      val base = s"$dir/$sub"
      Files.createDirectories(Paths.get(base))
      Seq("2024-12" -> 12, "2025-01" -> 1).foreach { case (tag, m) =>
        val stage = s"$dir/_stage_${sub}_$tag"
        df.filter(month(col(tsCol)) === m)
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
          .filter(_.endsWith(".parquet")).head
        Files.move(Paths.get(part), Paths.get(base, s"m$tag.parquet"))
      }
      base
    }
    val yPath = monthly(y.withColumn("batch_tag", lit("b7")),
      "tpep_pickup_datetime", "yellow")
    val gPath = monthly(g.drop("improvement_surcharge"),
      "lpep_pickup_datetime", "green")
    val hPath = monthly(h
      .withColumn("trip_time", col("trip_time").cast("int"))
      .withColumn("bcf", col("bcf").cast("float")),
      "pickup_datetime", "hvfhv")

    // -- drift reports match schema_drift.py:75–109 semantics ------------
    // The fixture frames carry a SUBSET of the full TLC schemas (they skip
    // incidental columns like VendorID), so each report is compared against
    // the un-drifted baseline: only the injected drift may differ.
    def baseline(expected: org.apache.spark.sql.types.StructType,
                 df: org.apache.spark.sql.DataFrame) =
      RawLoader.detectDrift(expected, df.drop("source_file").schema)
    val yDrift = RawLoader.detectDrift(Schemas.rawYellow,
      spark.read.parquet(yPath).schema)
    assert(yDrift.newColumns == Seq("batch_tag"), "injected new column reported")
    assert(yDrift.missingColumns == baseline(Schemas.rawYellow, y).missingColumns)
    assert(yDrift.typeChanges.isEmpty)
    val gDrift = RawLoader.detectDrift(Schemas.rawGreen,
      spark.read.parquet(gPath).schema)
    val gBase = baseline(Schemas.rawGreen, g)
    assert(!gBase.missingColumns.contains("improvement_surcharge"))
    assert(gDrift.missingColumns.toSet ==
      gBase.missingColumns.toSet + "improvement_surcharge",
      "injected removed column reported")
    assert(gDrift.newColumns.isEmpty && gDrift.typeChanges.isEmpty)
    val hDrift = RawLoader.detectDrift(Schemas.rawHvfhv,
      spark.read.parquet(hPath).schema)
    assert(hDrift.typeChanges.toSet == Set(
      ("trip_time", "LongType", "IntegerType"),
      ("bcf", "DoubleType", "FloatType")))
    assert(hDrift.incompatible.isEmpty, "numeric↔numeric is tolerated")
    // An out-of-family change (timestamp → string) is the reference's
    // manual-intervention case: load refuses.
    val broken = s"$dir/broken"
    y.withColumn("tpep_pickup_datetime",
      col("tpep_pickup_datetime").cast("string"))
      .limit(10).write.mode("overwrite").parquet(broken)
    val err = intercept[IllegalArgumentException] {
      RawLoader.load(spark, broken, Schemas.rawYellow, "broken.parquet")
    }
    assert(err.getMessage.contains("Manual intervention"))

    // -- full pipeline over the drifted monthly layout -------------------
    z.coalesce(1).write.mode("overwrite").option("header", true)
      .csv(s"$dir/zones_csv")
    val zonesCsv = Files.list(Paths.get(s"$dir/zones_csv")).toArray
      .map(_.toString).filter(_.endsWith(".csv")).head
    val out = s"$dir/warehouse"
    Cli.runPipeline(spark, Map(
      "yellow" -> yPath, "green" -> gPath, "hvfhv" -> hPath,
      "zones" -> zonesCsv, "out" -> out))

    val fact = spark.read.parquet(s"$out/fact_trips")
    assert(fact.count() == 22320, "drift did not drop any trips")
    // green's surcharges depend on the null-filled column → all null
    // ("removed columns are OK — we just won't load them").
    assert(fact.filter(col("service_type") === "green")
      .filter(col("surcharges").isNotNull).count() == 0)
    // yellow's surcharges unaffected by its extra column.
    assert(fact.filter(col("service_type") === "yellow")
      .filter(col("surcharges").isNull).count() == 0)
    // hvfhv's cast-through columns kept their exact values (the fixture's
    // trip_time is whole seconds; bcf has 2 decimals — float-exact ranges).
    val hv = fact.filter(col("service_type") === "hvfhv")
    assert(hv.filter(col("trip_duration_minutes").isNull).count() == 0)
    assert(hv.agg(sum(col("surcharges"))).head().getDouble(0) > 0)
    // query 01 materialized on disk with rows.
    assert(spark.read.parquet(s"$out/analytics/01_top_zones_by_revenue").count() > 0)
    val log = spark.read.parquet(s"$out/ingestion_log")
    assert(log.filter("status = 'completed'").count() == 3)
  }

  /** The 100 TB operating mode (SURVEY §7.4.10), end-to-end: build a
    * warehouse, then fold a NEW month of raw files in with
    * `run-incremental` — idempotent by source_file lineage, dynamic
    * partition overwrite for the fact, Aggregations.refresh for the
    * date-grained aggregates — and check the folded state matches a full
    * truncate-rebuild over the combined input. A replay of the same files
    * must be a no-op. */
  test("cli run-incremental folds a new month, idempotently, matching a full rebuild") {
    val dir = Files.createTempDirectory("graft_cli_incr").toString
    val (y, g, h, z) = TlcScaledDemo.rawFixture(spark)
    def shift(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.filter(_.dataType.typeName.startsWith("timestamp"))
        .foldLeft(df)((d, f) => d.withColumn(f.name, expr(s"`${f.name}` + INTERVAL 62 DAYS")))
    y.write.mode("overwrite").parquet(s"$dir/yellow.parquet")
    g.write.mode("overwrite").parquet(s"$dir/green.parquet")
    h.write.mode("overwrite").parquet(s"$dir/hvfhv.parquet")
    shift(y).write.mode("overwrite").parquet(s"$dir/yellow_d62.parquet")
    shift(g).write.mode("overwrite").parquet(s"$dir/green_d62.parquet")
    shift(h).write.mode("overwrite").parquet(s"$dir/hvfhv_d62.parquet")
    z.coalesce(1).write.mode("overwrite").parquet(s"$dir/zones.parquet")

    val out = s"$dir/warehouse"
    val build = jobsByStage(Cli.runPipeline(spark, Map(
      "yellow" -> s"$dir/yellow.parquet", "green" -> s"$dir/green.parquet",
      "hvfhv" -> s"$dir/hvfhv.parquet", "zones" -> s"$dir/zones.parquet",
      "out" -> out)))
    // one schema read and one two-job quality scan per raw file
    assert(beforeStandardize(build) <= 9, s"jobs per stage: $build")
    val incOpts = Map(
      "yellow" -> s"$dir/yellow_d62.parquet", "green" -> s"$dir/green_d62.parquet",
      "hvfhv" -> s"$dir/hvfhv_d62.parquet", "zones" -> s"$dir/zones.parquet",
      "out" -> out)
    val overwriteMode = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.getOption(overwriteMode)
    val fold = jobsByStage(Cli.runIncremental(spark, incOpts))
    assert(beforeStandardize(fold) <= 9, s"jobs per stage: $fold")
    // dynamic overwrite is a per-write option: the session conf is untouched
    assert(spark.conf.getOption(overwriteMode) == modeBefore)

    val fact = spark.read.parquet(s"$out/fact_trips")
    assert(fact.count() == 2 * 22320, "new month appended to the fact")
    assert(fact.select("pickup_date").distinct().count() == 124)
    // audit log: 3 base + 3 incremental entries, sequence continues
    val log = spark.read.parquet(s"$out/ingestion_log")
    assert(log.count() == 6 && log.agg(max("load_sequence_id")).head.getLong(0) == 6L)

    // each log row counts its file's rows; ids follow yellow, green, hvfhv
    def logRows() = spark.read.parquet(s"$out/ingestion_log").orderBy("load_sequence_id")
      .select("load_sequence_id", "source_file", "service_type", "row_count", "status")
      .collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getString(4)))
    val files6 = Seq("yellow.parquet", "green.parquet", "hvfhv.parquet",
      "yellow_d62.parquet", "green_d62.parquet", "hvfhv_d62.parquet")
    val expectedLog = files6.zipWithIndex.map { case (f, i) =>
      (i + 1L, f, f.takeWhile(_.isLetter), spark.read.parquet(s"$dir/$f").count(), "completed")
    }
    assert(logRows() == expectedLog)

    // replay of the SAME files: idempotent no-op. Every file is already in
    // the fact, so the standardize stage runs only the loaded-file check:
    // no standardize, checkpoint, date or count job, and no fact write.
    val factBefore = files(s"$out/fact_trips")
    val replay = jobsByStage(Cli.runIncremental(spark, incOpts))
    val checkOnly = jobsByStage {
      RawLoader.loadedFiles(spark.read.parquet(s"$out/fact_trips"))
      System.err.println("[timing] stage=check seconds=0")
    }
    assert(replay.find(_._1 == "standardize").map(_._2) == checkOnly.headOption.map(_._2),
      s"replay jobs per stage: $replay; the loaded-file check alone: $checkOnly")
    assert(beforeStandardize(replay) <= 9, s"jobs per stage: $replay")
    assert(files(s"$out/fact_trips") == factBefore, "the replay rewrote the fact")
    assert(spark.read.parquet(s"$out/fact_trips").count() == 2 * 22320)
    // ... and still logs the three files as completed, with their counts
    assert(logRows() == expectedLog ++ expectedLog.drop(3).map(e => e.copy(_1 = e._1 + 3)))

    // folded state == full truncate-rebuild over the combined input
    val comb = s"$dir/combined"
    Files.createDirectories(Paths.get(comb))
    def cat(a: String, b: String, o: String): Unit =
      spark.read.parquet(a).unionByName(spark.read.parquet(b))
        .write.mode("overwrite").parquet(o)
    cat(s"$dir/yellow.parquet", s"$dir/yellow_d62.parquet", s"$comb/yellow.parquet")
    cat(s"$dir/green.parquet", s"$dir/green_d62.parquet", s"$comb/green.parquet")
    cat(s"$dir/hvfhv.parquet", s"$dir/hvfhv_d62.parquet", s"$comb/hvfhv.parquet")
    val out2 = s"$dir/warehouse_rebuild"
    Cli.runPipeline(spark, Map(
      "yellow" -> s"$comb/yellow.parquet", "green" -> s"$comb/green.parquet",
      "hvfhv" -> s"$comb/hvfhv.parquet", "zones" -> s"$dir/zones.parquet",
      "out" -> out2))
    // Double aggregates (avg/sum) are order-sensitive in the last ulps and
    // the two paths scan with different partitionings, so compare at 6 dp —
    // the same tolerance class the reference's float columns carry.
    def norm(df: org.apache.spark.sql.DataFrame) = {
      val cols = df.schema.fields.map { f =>
        if (f.dataType.typeName == "double") round(col(f.name), 6).as(f.name)
        else col(f.name)
      }
      df.select(cols.toSeq: _*)
    }
    // (hvfhv_take_rates is empty on this fixture — take_rate never clears
    // the >=5-trip cell filter — so an unreadable schema-less dir on BOTH
    // sides is the matching outcome there)
    def readOpt(path: String) =
      try Some(norm(spark.read.parquet(path))) catch { case _: Throwable => None }
    for (t <- Seq("agg_daily_summary", "agg_market_share", "agg_pricing_by_zone_hour",
        "agg_hvfhv_take_rates", "agg_congestion_fee_impact")) {
      (readOpt(s"$out/$t"), readOpt(s"$out2/$t")) match {
        case (Some(a), Some(b)) =>
          assert(a.count() == b.count(), s"$t row count diverged")
          assert(a.unionByName(b).distinct().count() == a.count(),
            s"$t contents diverged between incremental fold and full rebuild")
        case (a, b) =>
          assert(a.isEmpty && b.isEmpty, s"$t readable on one side only")
      }
    }
  }

  test("a truncated raw file fails run-e2e naming its service, before any write") {
    val dir = Files.createTempDirectory("graft_cli_truncated").toString
    val (y, g, h, z) = TlcScaledDemo.rawFixture(spark)
    y.write.mode("overwrite").parquet(s"$dir/yellow.parquet")
    g.coalesce(1).write.mode("overwrite").parquet(s"$dir/green.parquet")
    h.write.mode("overwrite").parquet(s"$dir/hvfhv.parquet")
    z.coalesce(1).write.mode("overwrite").parquet(s"$dir/zones.parquet")
    // cut green's one data file in half: its parquet footer is gone
    val part = Files.list(Paths.get(s"$dir/green.parquet")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    val bytes = Files.readAllBytes(Paths.get(part))
    Files.write(Paths.get(part), java.util.Arrays.copyOf(bytes, bytes.length / 2))

    val out = s"$dir/warehouse"
    val err = intercept[Cli.WriteFailed] {
      Cli.runPipeline(spark, Map(
        "yellow" -> s"$dir/yellow.parquet", "green" -> s"$dir/green.parquet",
        "hvfhv" -> s"$dir/hvfhv.parquet", "zones" -> s"$dir/zones.parquet",
        "out" -> out))
    }
    assert(err.table == "green" && err.getMessage.contains("green"), err.getMessage)
    assert(!Files.exists(Paths.get(out, "fact_trips")), "a fact was written")
    assert(!Files.exists(Paths.get(out, "ingestion_log")), "a log was written")
  }
}
