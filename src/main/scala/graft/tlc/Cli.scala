package graft.tlc

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command-line pipeline runner (reference: src/cli.py `run-e2e` /
  * `run-analytics`):
  *
  *   runMain graft.tlc.Cli [run-e2e] --yellow p1 --green p2 --hvfhv p3 --zones p4 --out dir
  *
  * `run-e2e` is the default subcommand and may be left out; any other
  * leading word that is not an option must name a subcommand.
  *
  * Loads each raw source with the drift-tolerant loader (drift reports go to
  * stderr), runs the full pipeline, and writes under --out:
  * fact_trips/ (partitioned by pickup_date), agg_* tables, dim_* tables,
  * data_quality_metrics/, ingestion_log/ and analytics/<query>/ for all 14
  * queries. Downloading stays outside the engine (SURVEY.md §2.1 S4).
  *
  * Stages: load → quality → standardize → aggregates → dims → analytics →
  * finalize. They run one after another, but the work WITHIN a stage (the
  * three services' loads and quality scans, the fact and quality-metrics
  * writes, the aggregates, the dims, the analytics results) is
  * independent, so it runs concurrently on
  * `spark.sparkContext.defaultParallelism` driver threads (see
  * [[writeConcurrently]]): each piece is a short chain of small jobs that
  * alone leaves most cores idle, and Spark runs jobs submitted from several
  * threads of one session side by side. A stage returns only once all of
  * its pieces have finished, so each `[timing]` line still covers exactly
  * its stage.
  *
  * Each raw file is scanned once before the fact write: its quality scan,
  * whose total is also the row count the ingestion log records (the
  * reference's per-file validation, S5, without a second read). The fold
  * (`run-incremental`) decides per file, on the driver, whether it is
  * already loaded (S6), and leaves loaded files out whole.
  */
object Cli {

  /** `--key value` pairs, read left to right. A word where an option should
    * be, or an option with no value after it, is rejected by name. */
  def parseArgs(args: Array[String]): Map[String, String] = {
    @annotation.tailrec
    def go(rest: List[String], opts: Map[String, String]): Map[String, String] = rest match {
      case Nil => opts
      case k :: v :: more if k.startsWith("--") && !v.startsWith("--") =>
        go(more, opts + (k.drop(2) -> v))
      case k :: _ if k.startsWith("--") =>
        throw new IllegalArgumentException(s"missing value for $k")
      case word :: _ => throw new IllegalArgumentException(s"unexpected argument '$word'")
    }
    go(args.toList, Map.empty)
  }

  private def requireArgs(args: Array[String], keys: String*): Map[String, String] = {
    val opts = parseArgs(args)
    val missing = keys.filterNot(opts.contains)
    require(missing.isEmpty, s"missing arguments: ${missing.map("--" + _).mkString(" ")}")
    opts
  }

  private val rawArgs = Seq("yellow", "green", "hvfhv", "zones", "out")

  /** Runs `body` in a [[graft.Session.local]] session (`SPARK_MASTER`,
    * `SPARK_GRAFT_CPUS`, `SPARK_GRAFT_CONF`) and stops it afterwards. */
  private def withSession(appName: String)(body: SparkSession => Unit): Unit = {
    val spark = graft.Session.local(appName)
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
    val YearMonth = """(\d{4})-(0[1-9]|1[0-2])""".r
    def yearMonth(key: String): (Int, Int) = opts(key) match {
      case YearMonth(y, m) => (y.toInt, m.toInt)
      case v => throw new IllegalArgumentException(s"--$key must be YYYY-MM, got '$v'")
    }
    val ((sy, sm), (ey, em)) = (yearMonth("start"), yearMonth("end"))
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

  /** Argument errors (an unknown subcommand, a stray word, an option with no
    * value, a missing option) are raised before any session starts. */
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run-analytics") => runAnalytics(args.drop(1))
    case Some("download") => runDownload(args.drop(1))
    case Some("run-incremental") =>
      val opts = requireArgs(args.drop(1), rawArgs: _*)
      withSession("graft-tlc-incremental")(runIncremental(_, opts))
    case Some("run-e2e") => runE2e(args.drop(1))
    case Some(word) if !word.startsWith("--") =>
      throw new IllegalArgumentException(s"unknown subcommand '$word'")
    case _ => runE2e(args)
  }

  private def runE2e(args: Array[String]): Unit = {
    val opts = requireArgs(args, rawArgs: _*)
    withSession("graft-tlc-pipeline")(runPipeline(_, opts))
  }

  /** A task that failed inside a concurrent stage, named by the table it
    * wrote or the service it read. */
  final class WriteFailed(val table: String, cause: Throwable)
    extends RuntimeException(s"'$table' failed: ${cause.getMessage}", cause)

  /** Runs `tasks` (name → body) on `threads` driver threads, capped at the
    * number of tasks, and returns once EVERY task has finished, with their
    * results in `tasks` order whatever order they finished in. A failure
    * does not cut its siblings short: all of them run to the end, then the
    * first failure in `tasks` order is thrown as [[WriteFailed]], with the
    * others attached as suppressed exceptions. The pool's threads are
    * created from the calling thread, so they inherit its active session
    * and Spark local properties. */
  private[graft] def writeConcurrently[T](threads: Int, tasks: Seq[(String, () => T)]): Seq[T] =
    if (tasks.isEmpty) Seq.empty
    else {
      val pool = Executors.newFixedThreadPool(math.max(1, math.min(threads, tasks.size)))
      try {
        val pending = tasks.map { case (name, task) =>
          name -> pool.submit(new Callable[T] { def call(): T = task() })
        }
        val outcomes = pending.map { case (name, f) =>
          try Right(f.get())
          catch { case e: ExecutionException => Left(new WriteFailed(name, e.getCause)) }
        }
        val failures = outcomes.collect { case Left(e) => e }
        failures.headOption.foreach { first =>
          failures.drop(1).foreach(first.addSuppressed)
          throw first
        }
        outcomes.collect { case Right(v) => v }
      } finally pool.shutdownNow()
    }

  /** Stage wall times of one run. Each is printed to stderr as
    * `[timing] stage=<name> seconds=<s>` when it ends and, with
    * `--timings file.json`, written as one JSON object (reference point:
    * docs/QUICK_START.md:19–34's 3–5 min sample pipeline).
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

  /** One raw file after the `load` and `quality` stages: its loaded frame,
    * its four quality checks and its ingestion-log entry. */
  private final case class Ingested(service: String, raw: DataFrame,
      checks: Seq[QualityChecks.CheckResult], logEntry: IngestionLog.Entry)

  /** The three services in ingestion-log order, with their raw schemas. */
  private val services = Seq(
    "yellow" -> Schemas.rawYellow, "green" -> Schemas.rawGreen, "hvfhv" -> Schemas.rawHvfhv)

  /** What both runs share: stage timing, the concurrent stage runner, the
    * `load` and `quality` stages with their ingestion-log entries, the
    * zones frame, the dims stage and the closing log append. */
  private final class Run(spark: SparkSession, opts: Map[String, String]) {
    // the percentile rule for the aggregates stage, which in
    // runIncremental runs before any Pipeline call registers it
    graft.GraftExtensions.register(spark)
    val out: String = opts("out")
    val timings = new Timings
    def timed[T](stage: String)(body: => T): T = timings.timed(stage)(body)

    /** Read at first use: only the dims and the analytics need it, so a run
      * that folds nothing in never reads it. */
    lazy val zones: DataFrame = {
      val path = opts("zones")
      if (path.endsWith(".csv"))
        spark.read.option("header", true).option("inferSchema", true).csv(path)
      else spark.read.parquet(path)
    }

    def writeAll[T](tasks: Seq[(String, () => T)]): Seq[T] =
      writeConcurrently(spark.sparkContext.defaultParallelism, tasks)

    /** The `load` and `quality` stages, each running the three services
      * side by side. `load` reads each raw file's schema for the drift
      * report and hashes the file on the driver; the parquet scan itself is
      * lazy. `quality` is each file's ONE scan: QualityChecks.runAll's
      * conditional aggregate, whose total is also the row count the
      * ingestion log records (validators.py's row-count step). Log entries
      * take sequence ids in service order, whatever order the threads
      * finish in. Stage retry counts mirror the reference's Prefect task
      * config (flows.py: load-data 2, quality-check 1); see Retry's
      * scaladoc for why retries wrap actions. */
    def ingest(): Seq[Ingested] = {
      val loaded = timed("load")(writeAll(services.map { case (svc, schema) =>
        svc -> (() => Retry.withRetries(2, s"load-$svc") {
          val path = opts(svc)
          val t0 = System.nanoTime()
          val file = new java.io.File(path).getName
          val (df, drift) = RawLoader.load(spark, path, schema, file)
          if (drift.hasDrift) System.err.println(s"[drift] $svc: $drift")
          (svc, df, file, RawLoader.sha256(path), (System.nanoTime() - t0) / 1e9)
        })
      }))
      timed("quality")(writeAll(loaded.zipWithIndex.map {
        case ((svc, df, file, sha, loadSecs), i) =>
          svc -> (() => Retry.withRetries(1, s"quality-check:$svc") {
            val t0 = System.nanoTime()
            val checks = QualityChecks.runAll(df, svc)
            Ingested(svc, df, checks, IngestionLog.Entry(
              sequenceId = i + 1L,
              sourceFile = file,
              serviceType = svc,
              rowCount = QualityChecks.rowCount(checks),
              durationSeconds = loadSecs + (System.nanoTime() - t0) / 1e9,
              status = "completed",
              errorMessage = None,
              fileSha256 = sha,
              loadedAt = new java.sql.Timestamp(System.currentTimeMillis())))
          })
      }))
    }

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

    /** The `finalize` stage, then `--timings`. The per-file load audit
      * (reference loader.py:264–333) is append-only; the sequence continues
      * from the existing tail ([[IngestionLog.lastSequenceId]]). */
    def finish(ingested: Seq[Ingested], factRows: Long): Unit = {
      timed("finalize") {
        val base = IngestionLog.lastSequenceId(spark, s"$out/ingestion_log")
        val entries = ingested.map(i => i.logEntry.copy(sequenceId = i.logEntry.sequenceId + base))
        IngestionLog.write(IngestionLog.build(spark, entries).coalesce(1), s"$out/ingestion_log")
      }
      opts.get("timings").foreach(path =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(path), timings.json(factRows)))
    }
  }

  /** The fact frame of `ingested`: each service standardized, then unioned
    * and deduplicated by trip_id ([[Standardize.union]]). */
  private def standardize(ingested: Seq[Ingested]): DataFrame =
    Standardize.union(ingested.map(i => Standardize.byService(i.service)(i.raw)))

  /** The e2e body behind `main`, session-injected so tests can drive it
    * without the session lifecycle.
    *
    * Stages: load → quality → standardize → aggregates → dims → analytics
    * → finalize, each timed (see [[Timings]]). Load and quality run the
    * three services side by side and touch each raw file once (see
    * `Run.ingest`); standardize writes the fact and data_quality_metrics
    * side by side; the 5 aggregates, the 5 dims and the 14 analytics
    * results are each written concurrently within their stage.
    *
    * After the fact write, every downstream stage reads the MATERIALIZED
    * fact_trips back from disk (Pipeline.derive's scaladoc), read once for
    * its count and for them: one standardize pass per pipeline run, like
    * the reference's warehouse. */
  private[graft] def runPipeline(spark: SparkSession, opts: Map[String, String]): Unit = {
    val run = new Run(spark, opts)
    import run.{out, timed}
    val ingested = run.ingest()
    val fact = standardize(ingested)
    val quality = QualityChecks.metricsFrame(spark, ingested.map(i => i.service -> i.checks))
    val (factOnDisk, nFact) = timed("standardize") {
      run.writeAll(Seq(
        "fact_trips" -> (() => Retry.withRetries(2, "transform-to-fact") {
          Pipeline.writeFact(fact, s"$out/fact_trips")
        }),
        "data_quality_metrics" -> (() => Retry.withRetries(1, "quality-check") {
          quality.coalesce(1).write.mode("overwrite").parquet(s"$out/data_quality_metrics")
        })))
      // Everything downstream reads the MATERIALIZED fact partitioned by
      // pickup_date, so date-scoped analytics prune partitions.
      val onDisk = spark.read.parquet(s"$out/fact_trips")
      (onDisk, onDisk.count())
    }
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
    run.finish(ingested, nFact)
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
    * Stages (each timed like runPipeline, so the incremental episode can be
    * set next to the truncate-rebuild of the same state):
    *
    *   - load/quality: the same concurrent drift-tolerant loads and
    *     one-scan quality checks, over the new files only.
    *   - standardize: IDEMPOTENT by lineage, decided per FILE on the driver
    *     (reference loader.py's already-loaded check, S6's path-level
    *     manifest check): RawLoader.loadedFiles collects the warehouse
    *     fact's distinct source_file set once, and a raw file whose name is
    *     in it is left out whole (a loaded frame carries one constant
    *     source_file, so a file is either wholly loaded or wholly new).
    *     Replaying loaded files thus standardizes, checkpoints and counts
    *     nothing, and still logs each file as `completed` with its row
    *     count. The new files' fact rows are written to ONLY the affected
    *     pickup_date partitions (dynamic partition overwrite; pre-existing
    *     rows of those dates ride along via a localCheckpoint, which also
    *     severs the read-from-the-overwritten-path dependency).
    *   - aggregates: Aggregations.refresh recomputes just the affected
    *     dates' partitions of every date-grained aggregate — partition
    *     pruning keeps each rebuild's fact scan to those dates; the one
    *     period-grained table (congestion_fee_impact, no date column) and
    *     the bounded dims rebuild in full. The five tables write
    *     concurrently, as do the dims.
    *
    *   - analytics: the three percentile-surface queries (q04/q11/q13,
    *     planned onto PercentileAggregate) re-run concurrently over the FULL
    *     folded warehouse, each sub-timed, so their stage-floor
    *     amortization is measured where it is supposed to pay. They are
    *     query-time work, not state maintenance.
    *
    * Dynamic overwrite is a per-write option, never the session conf: the
    * writes of a stage run concurrently, and one restoring a session-wide
    * mode could turn a sibling's dynamic overwrite into a static one that
    * deletes every other date.
    *
    * The loaded-file set and the affected-date list come to the driver
    * (bounded by the file count and the calendar — same contract as dd7's
    * convergence scalar, never row data). */
  private[graft] def runIncremental(spark: SparkSession, opts: Map[String, String]): Unit = {
    val run = new Run(spark, opts)
    import run.{out, timed}
    val ingested = run.ingest()

    val (nNew, dates) = timed("standardize") {
      val existing = spark.read.parquet(s"$out/fact_trips")
      val loaded = RawLoader.loadedFiles(existing)
      val fresh = ingested.filterNot(i => loaded(i.logEntry.sourceFile))
      if (fresh.isEmpty) (0L, Seq.empty[java.sql.Date])
      else {
        val newFact = standardize(fresh)
          .localCheckpoint() // consumed by the date probe, the write and the count
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
    }
    // the folded fact, read once for the aggregates, the dims and analytics
    val factAll = timed("aggregates") {
      if (dates.isEmpty) None
      else {
        val fact = spark.read.parquet(s"$out/fact_trips")
        run.writeAll(Aggregations.tables.map { case (name, build) =>
          name -> (() => Retry.withRetries(2, s"build-aggregates-incremental:$name") {
            Aggregations.refresh(fact, build, dates, s"$out/$name")
          })
        })
        Some(fact)
      }
    }
    val tables = factAll.map(Pipeline.tables(spark, _, run.zones))
    timed("dims")(tables.foreach(run.writeDims))
    // The percentile-surface analytics over the FULL warehouse:
    // q04/q11/q13 are the percentile-surface queries expected to amortize
    // their stage floor once real work dominates — running them here, over
    // the whole fact the month was folded into, measures that inside the
    // e2e episode. Each query is sub-timed to show the family's share.
    timed("analytics") {
      tables.foreach { t =>
        val analytics = Analytics.all(t)
        run.writeAll(Seq("04_hvfhv_platform_economics", "11_uber_lyft_vs_taxi_pricing",
          "13_hvfhv_take_rate_variance").map { name =>
          name -> (() => run.timings.timed(s"analytics_$name", sub = true) {
            analytics(name)().write.mode("overwrite").parquet(s"$out/analytics/$name")
          })
        })
      }
    }
    run.finish(ingested, nNew)
    println(s"[graft] incremental fold: $nNew new fact rows across " +
      s"${dates.size} dates -> $out")
  }
}
