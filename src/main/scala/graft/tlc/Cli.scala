package graft.tlc

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.collection.mutable

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, lit, max}
import org.apache.spark.sql.types.StructType

/** Command-line pipeline runner (reference: src/cli.py `run-e2e` /
  * `run-analytics`):
  *
  *   runMain graft.tlc.Cli --yellow p1 --green p2 --hvfhv p3 --zones p4 --out dir
  *
  * Loads each raw source with the drift-tolerant loader (drift reports go to
  * stderr), runs the full pipeline, and writes under --out:
  * fact_trips/ (partitioned by pickup_date), agg_* tables, dim_* tables,
  * data_quality_metrics/, and analytics/<query>/ for all 14 queries.
  * Downloading stays outside the engine (SURVEY.md §2.1 S4).
  *
  * Stages run one after another, but the tables WITHIN a stage (the
  * aggregates, the dims, the analytics results) do not depend on one
  * another, so they are written concurrently on
  * `spark.sparkContext.defaultParallelism` driver threads (see
  * [[writeConcurrently]]): each write is a short chain of small jobs that
  * alone leaves most cores idle, and Spark runs jobs submitted from several
  * threads of one session side by side. A stage returns only once all of
  * its writes have finished, so each `[timing]` line still covers exactly
  * its stage.
  */
object Cli extends Logging {

  def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  private def requireArgs(args: Array[String], keys: String*): Map[String, String] = {
    val opts = parseArgs(args)
    val missing = keys.filterNot(opts.contains)
    require(missing.isEmpty, s"missing arguments: ${missing.map("--" + _).mkString(" ")}")
    opts
  }

  private val rawArgs = Seq("yellow", "green", "hvfhv", "zones", "out")

  /** Runs `body` in a `local[$SPARK_GRAFT_CPUS]` session (or
    * `$SPARK_MASTER`) and stops it afterwards. `SPARK_GRAFT_CONF`
    * (`k=v;k=v`) is the LOCAL A/B hook shared with Bench/PlanDump: extra
    * session confs for plan-variant measurement runs (e.g. the BENCH_E2E
    * percentile-shape A/B). Every key it sets is logged at WARN, so an
    * override is visible in any run's log. */
  private def withSession(appName: String)(body: SparkSession => Unit): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        logWarning(s"SPARK_GRAFT_CONF sets $k=$v")
        spark.conf.set(k, v)
      })
    try body(spark) finally spark.stop()
  }

  /** `run-analytics` subcommand (reference cli.py:279–297): execute a SQL
    * file against a parquet warehouse previously written by the pipeline.
    *
    *   runMain graft.tlc.Cli run-analytics --sql file.sql --warehouse dir [--out dir]
    */
  private def runAnalytics(args: Array[String]): Unit = {
    val opts = requireArgs(args, "sql", "warehouse")
    withSession("graft-tlc-analytics") { spark =>
      val views = SqlRunner.registerWarehouse(spark, opts("warehouse"))
      System.err.println(s"[graft] registered views: ${views.mkString(", ")}")
      val result = SqlRunner.runFile(spark, opts("sql"))
      result.show(50, truncate = false)
      opts.get("out").foreach(o => result.write.mode("overwrite").parquet(o))
      println(s"[graft] query returned ${result.count()} rows")
    }
  }

  /** `download` subcommand (reference cli.py:44–76): fetch raw months +
    * zones into --dest. No Spark session — pure driver I/O.
    *
    *   runMain graft.tlc.Cli download --start 2024-12 --end 2025-01 \
    *     --dest dir [--services yellow,green,hvfhv] [--no-skip-existing]
    */
  private def runDownload(args: Array[String]): Unit = {
    val opts = requireArgs(args.filterNot(_ == "--no-skip-existing"), "start", "end", "dest")
    val Array(sy, sm) = opts("start").split("-").map(_.toInt)
    val Array(ey, em) = opts("end").split("-").map(_.toInt)
    val services = opts.get("services")
      .map(_.split(",").toSeq).getOrElse(Seq("yellow", "green", "hvfhv"))
    val results = Downloader.downloadRange(
      new Downloader.HttpFetcher(), opts("dest"), sy, sm, ey, em, services,
      skipIfExists = !args.contains("--no-skip-existing"))
    Downloader.summarize(results).toSeq.sortBy(_._1).foreach { case (k, v) =>
      println(s"[graft] download $k: $v")
    }
    results.filter(_.status == "failed").foreach { r =>
      System.err.println(s"[graft] FAILED ${r.url}: ${r.error.getOrElse("")}")
    }
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run-analytics") => runAnalytics(args.drop(1))
    case Some("download") => runDownload(args.drop(1))
    case Some("run-incremental") =>
      val opts = requireArgs(args.drop(1), rawArgs: _*)
      withSession("graft-tlc-incremental")(runIncremental(_, opts))
    case _ =>
      val opts = requireArgs(args, rawArgs: _*)
      withSession("graft-tlc-pipeline")(runPipeline(_, opts))
  }

  /** A write that failed inside a concurrent stage, named by its table. */
  final class WriteFailed(val table: String, cause: Throwable)
    extends RuntimeException(s"write of '$table' failed: ${cause.getMessage}", cause)

  /** Runs `writes` (table → write) on `threads` driver threads, capped at
    * the number of writes, and returns once EVERY write has finished. A
    * failure does not cut its siblings short: all of them run to the end,
    * then the first failure in `writes` order is thrown as [[WriteFailed]],
    * with the others attached as suppressed exceptions. The pool's threads
    * are created from the calling thread, so they inherit its active
    * session and Spark local properties. */
  private[graft] def writeConcurrently(threads: Int, writes: Seq[(String, () => Unit)]): Unit =
    if (writes.nonEmpty) {
      val pool = Executors.newFixedThreadPool(math.max(1, math.min(threads, writes.size)))
      try {
        val pending = writes.map { case (table, write) =>
          table -> pool.submit(new Callable[Unit] { def call(): Unit = write() })
        }
        val failures = pending.flatMap { case (table, f) =>
          try { f.get(); None }
          catch { case e: ExecutionException => Some(new WriteFailed(table, e.getCause)) }
        }
        failures.headOption.foreach { first =>
          failures.drop(1).foreach(first.addSuppressed)
          throw first
        }
      } finally pool.shutdownNow()
    }

  /** Stage wall times of one run. Each is printed to stderr as
    * `[timing] stage=<name> seconds=<s>` when it ends and, with
    * `--timings file.json`, written as one JSON object — the BASELINE.md
    * "stage wall time on identical input" comparable (BENCH_E2E artifacts;
    * reference point: docs/QUICK_START.md:19–34's 3–5 min sample pipeline).
    * A sub-timing breaks a stage down (the fold's per-query analytics); it
    * is printed and written like a stage but left out of `total`, because
    * its stage already contains it. Sub-timings end on writer threads, so
    * every access holds the lock. */
  private[graft] final class Timings {
    private val seconds = mutable.LinkedHashMap.empty[String, Double]
    private val subs = mutable.Set.empty[String]

    def timed[T](stage: String, sub: Boolean = false)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      record(stage, (System.nanoTime() - t0) / 1e9, sub)
      r
    }

    def record(stage: String, secs: Double, sub: Boolean = false): Unit = synchronized {
      seconds(stage) = secs
      if (sub) subs += stage
      System.err.println(f"[timing] stage=$stage seconds=$secs%.3f")
    }

    def total: Double = synchronized(seconds.collect { case (k, v) if !subs(k) => v }.sum)

    /** Locale.ROOT: the f-interpolator uses the JVM default locale, and a
      * comma-decimal locale would emit invalid JSON (ADVICE r11). */
    def json(factRows: Long): String = synchronized {
      def f3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      seconds.map { case (k, v) => s""""$k": ${f3(v)}""" }
        .mkString("{", ", ", s""", "total": ${f3(total)}, "fact_rows": $factRows}""")
    }
  }

  /** What both runs share: stage timing, the timed raw loads with their
    * ingestion-log entries, the zones frame, the concurrent stage writer,
    * the dims stage and the closing log append. */
  private final class Run(spark: SparkSession, opts: Map[String, String]) {
    val out: String = opts("out")
    val timings = new Timings
    def timed[T](stage: String)(body: => T): T = timings.timed(stage)(body)

    val zones: DataFrame = {
      val path = opts("zones")
      if (path.endsWith(".csv"))
        spark.read.option("header", true).option("inferSchema", true).csv(path)
      else spark.read.parquet(path)
    }

    // Per-file load audit (reference loader.py:264–333): each raw source
    // load appends an ingestion_log entry with row count, duration, checksum
    // and status, written by `finish`.
    private val logEntries = mutable.ArrayBuffer.empty[IngestionLog.Entry]

    private def loadRaw(key: String, schema: StructType): DataFrame = {
      val path = opts(key)
      val t0 = System.nanoTime()
      val (df, drift) = RawLoader.load(spark, path, schema, new java.io.File(path).getName)
      if (drift.hasDrift) System.err.println(s"[drift] $key: $drift")
      val (rows, _, sha) = RawLoader.validate(spark, path)
      logEntries += IngestionLog.Entry(
        sequenceId = logEntries.size + 1L,
        sourceFile = new java.io.File(path).getName,
        serviceType = key,
        rowCount = rows,
        durationSeconds = (System.nanoTime() - t0) / 1e9,
        status = "completed",
        errorMessage = None,
        fileSha256 = sha,
        loadedAt = new java.sql.Timestamp(System.currentTimeMillis()))
      df
    }

    /** The `load` and `quality` stages. Stage retry counts mirror the
      * reference's Prefect task config (flows.py: load-data 2,
      * transform-to-fact 2, build-aggregates 2, quality-check 1); see
      * Retry's scaladoc for why retries wrap actions. `load` covers
      * validation (row count + column probe + SHA256) of each raw file; the
      * parquet scan itself is lazy and is paid once, in the fact write.
      * Pipeline.run executes the quality-check actions eagerly (the rest of
      * the Result is lazy lineage), so its wall time IS the quality stage. */
    def loadAndCheck(): Pipeline.Result = {
      val (rawY, rawG, rawH) = timed("load") {(
        Retry.withRetries(2, "load-yellow")(loadRaw("yellow", Schemas.rawYellow)),
        Retry.withRetries(2, "load-green")(loadRaw("green", Schemas.rawGreen)),
        Retry.withRetries(2, "load-hvfhv")(loadRaw("hvfhv", Schemas.rawHvfhv)))}
      timed("quality") { Pipeline.run(spark, rawY, rawG, rawH, zones) }
    }

    def writeAll(writes: Seq[(String, () => Unit)]): Unit =
      writeConcurrently(spark.sparkContext.defaultParallelism, writes)

    /** Dims write WITHOUT a coalesce(1) funnel, like the analytics results:
      * they are bounded (3–1826 rows, naturally few partitions), and plain
      * writes let each frame keep its natural parallelism. */
    def writeDims(tables: TlcTables): Unit = writeAll(Seq(
      "dim_zones" -> tables.dimZones,
      "dim_date" -> tables.dimDate,
      "dim_time" -> tables.dimTime,
      "dim_service" -> tables.dimService,
      "dim_hvfhs_company" -> tables.dimHvfhsCompany)
      .map { case (name, df) => name -> (() => df.write.mode("overwrite").parquet(s"$out/$name")) })

    /** The `finalize` stage, then `--timings`. The audit log is
      * append-only; the sequence continues from the existing tail.
      * max(load_sequence_id), not count() (ADVICE r12): a log with gaps or
      * a partially-written append would otherwise mint duplicate sequence
      * ids, breaking the append-only audit invariant. */
    def finish(factRows: Long): Unit = {
      timed("finalize") {
        val log = new org.apache.hadoop.fs.Path(s"$out/ingestion_log")
        val base =
          if (!log.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(log)) 0L
          else try spark.read.parquet(log.toString)
            .agg(coalesce(max("load_sequence_id"), lit(0L))).first().getLong(0)
            catch { case _: Throwable => 0L }
        val entries = logEntries.toSeq.map(e => e.copy(sequenceId = e.sequenceId + base))
        IngestionLog.write(IngestionLog.build(spark, entries).coalesce(1), s"$out/ingestion_log")
      }
      opts.get("timings").foreach(path =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(path), timings.json(factRows)))
    }
  }

  /** The e2e body behind `main`, session-injected so tests can drive it
    * without the session lifecycle.
    *
    * Stages: load → quality → standardize → aggregates → dims → analytics
    * → finalize, each timed (see [[Timings]]). The 5 aggregates, the 5 dims
    * and the 14 analytics results are each written concurrently within
    * their stage.
    *
    * After the fact write, every downstream stage reads the MATERIALIZED
    * fact_trips back from disk (Pipeline.derive's scaladoc): one
    * standardize pass per pipeline run, like the reference's warehouse. */
  private[graft] def runPipeline(spark: SparkSession, opts: Map[String, String]): Unit = {
    val run = new Run(spark, opts)
    import run.{out, timed}
    val result = run.loadAndCheck()
    val nFact = timed("standardize") {
      Retry.withRetries(2, "transform-to-fact") {
        Pipeline.writeFact(result.fact, s"$out/fact_trips")
      }
      Retry.withRetries(1, "quality-check") {
        result.qualityMetrics.coalesce(1).write.mode("overwrite")
          .parquet(s"$out/data_quality_metrics")
      }
      spark.read.parquet(s"$out/fact_trips").count()
    }
    // Everything downstream reads the MATERIALIZED fact partitioned by
    // pickup_date — one standardize pass per run, and date-scoped analytics
    // prune partitions (Pipeline.derive's scaladoc).
    val factOnDisk = spark.read.parquet(s"$out/fact_trips")
    val (tables, aggregates, analytics) = Pipeline.derive(spark, factOnDisk, run.zones)

    timed("aggregates") {
      run.writeAll(aggregates.toSeq.map { case (name, df) =>
        name -> (() => Retry.withRetries(2, s"build-aggregates:$name") {
          Aggregations.write(df, s"$out/$name")
        })
      })
    }
    timed("dims")(run.writeDims(tables))
    // Analytics results write WITHOUT a coalesce(1) funnel: outputs grow
    // with the data span (q13 is months × companies), and a single-task
    // write serializes the whole frame through one core. Each query is
    // built inside its writer thread, so q12/q14's eager checkpoints
    // overlap with the other queries too.
    timed("analytics") {
      run.writeAll(analytics.toSeq.map { case (name, mk) =>
        name -> (() => mk().write.mode("overwrite").parquet(s"$out/analytics/$name"))
      })
    }
    run.finish(nFact)
    println(s"[graft] pipeline complete: $nFact fact rows -> $out")
  }

  /** `run-incremental` subcommand — the 100 TB operating mode (SURVEY
    * §7.4.10): fold NEW raw files into an EXISTING `--out` warehouse
    * previously written by the full pipeline, touching only the state the
    * new rows affect.
    *
    *   runMain graft.tlc.Cli run-incremental --yellow p1 --green p2
    *     --hvfhv p3 --zones p4 --out existingWarehouse [--timings t.json]
    *
    * Stages (each timed like runPipeline, so BENCH_E2E can put the
    * incremental episode next to the truncate-rebuild of the same state):
    *
    *   - load/quality: the same drift-tolerant loaders + eager quality
    *     checks, over the new files only.
    *   - standardize: IDEMPOTENT by lineage — an anti-join on source_file
    *     against the warehouse fact (reference loader.py's already-loaded
    *     check, S6) drops rows from files already folded in, so replaying
    *     a file is a no-op; then ONLY the affected pickup_date partitions
    *     are rewritten (dynamic partition overwrite; pre-existing rows of
    *     those dates ride along via a localCheckpoint, which also severs
    *     the read-from-the-overwritten-path dependency).
    *   - aggregates: Aggregations.rebuildDates recomputes just the
    *     affected dates' partitions of every date-grained aggregate —
    *     partition pruning keeps each rebuild's fact scan to those dates;
    *     the one period-grained table (congestion_fee_impact, no date
    *     column) and the bounded dims rebuild in full. The five tables
    *     write concurrently, as do the dims.
    *
    *   - analytics: the three percentile-surface queries (q04/q11/q13 —
    *     the QuantileRefine family) re-run concurrently over the FULL
    *     folded warehouse, each sub-timed (r13 verdict item 7: the
    *     stage-floor amortization claim, measured where it is supposed to
    *     pay). They are query-time work, not state maintenance —
    *     BENCH_E2E's maintenance_total excludes the analytics stage on both
    *     sides, as in r12.
    *
    * Dynamic overwrite is a per-write option, never the session conf: the
    * writes of a stage run concurrently, and one restoring a session-wide
    * mode could turn a sibling's dynamic overwrite into a static one that
    * deletes every other date.
    *
    * The affected-date list comes to the driver (calendar-bounded — same
    * contract as dd7's convergence scalar, never row data). */
  private[graft] def runIncremental(spark: SparkSession, opts: Map[String, String]): Unit = {
    val run = new Run(spark, opts)
    import run.{out, timed}
    val result = run.loadAndCheck()

    val existing = spark.read.parquet(s"$out/fact_trips")
    val (nNew, dates) = timed("standardize") {
      val loadedFiles = existing.select("source_file").distinct()
      val newFact = result.fact
        .join(loadedFiles, Seq("source_file"), "left_anti")
        .localCheckpoint() // consumed by the date probe AND the write
      val dates = newFact.select("pickup_date").distinct()
        .collect().map(_.getDate(0)).toSeq.sortBy(_.getTime)
      if (dates.nonEmpty) {
        // pre-existing rows of the affected dates ride along; checkpointed
        // so the dynamic overwrite never reads the path it rewrites
        val oldRows = Aggregations.filterDates(existing, dates).localCheckpoint()
        Retry.withRetries(2, "transform-to-fact-incremental") {
          oldRows.unionByName(newFact)
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("pickup_date").parquet(s"$out/fact_trips")
        }
      }
      (newFact.count(), dates)
    }
    timed("aggregates") {
      if (dates.nonEmpty) {
        val factAll = spark.read.parquet(s"$out/fact_trips")
        val byDate = Seq[(String, DataFrame => DataFrame)](
          "agg_pricing_by_zone_hour" -> Aggregations.pricingByZoneHour,
          "agg_hvfhv_take_rates" -> Aggregations.hvfhvTakeRates,
          "agg_market_share" -> Aggregations.marketShare,
          "agg_daily_summary" -> Aggregations.dailySummary)
          .map { case (name, build) =>
            name -> (() => Aggregations.rebuildDates(factAll, build, dates, s"$out/$name"))
          }
        // period-grained (no date column): full rebuild is the contract
        val congestion = "agg_congestion_fee_impact" -> (() => Aggregations.write(
          Aggregations.congestionFeeImpact(factAll), s"$out/agg_congestion_fee_impact"))
        run.writeAll((byDate :+ congestion).map { case (name, write) =>
          name -> (() => Retry.withRetries(2, s"build-aggregates-incremental:$name")(write()))
        })
      }
    }
    val derived =
      if (dates.nonEmpty) Some(Pipeline.derive(spark, spark.read.parquet(s"$out/fact_trips"), run.zones))
      else None
    timed("dims") { derived.foreach { case (tables, _, _) => run.writeDims(tables) } }
    // The QuantileRefine-family analytics over the FULL warehouse (r13
    // verdict item 7): q04/q11/q13 are the percentile-surface queries the
    // r12 perf-weak adjudication said amortize their stage floor once real
    // work dominates — running them here, over the whole 16M-row fact the
    // month was folded into, measures that claim inside the e2e episode.
    // Each query is sub-timed so BENCH_E2E can show the family's share.
    timed("analytics") {
      derived.foreach { case (tables, _, _) =>
        val analytics = Analytics.all(tables)
        run.writeAll(Seq("04_hvfhv_platform_economics", "11_uber_lyft_vs_taxi_pricing",
          "13_hvfhv_take_rate_variance").map { name =>
          name -> (() => run.timings.timed(s"analytics_$name", sub = true) {
            analytics(name)().write.mode("overwrite").parquet(s"$out/analytics/$name")
          })
        })
      }
    }
    run.finish(nNew)
    println(s"[graft] incremental fold: $nNew new fact rows across " +
      s"${dates.size} dates -> $out")
  }
}
