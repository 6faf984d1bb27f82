package graft.perfbench

import graft.tlc.{Cli, SqlRunner}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** The two workloads. Input sizes are fixed here; the seed only picks the
  * fold week's shift and orders the curation queries within each pass. The
  * SQL files run in their numbered order: they are the session's first SQL,
  * and its warm-up lands on whichever files run first (up to 1.6x their warm
  * time), so a seeded order would add that to the run-to-run spread. */
object Workloads {
  val names = Seq("warehouse", "curation_ops")

  /** RawGen copies (360 trips a day each); the base period is the two
    * weeks around q12's 2025-01-05 congestion-fee cutover, and the drop
    * folded into it is one week. */
  val Copies = 1
  val BaseFromDay = 24
  val BaseDays = 14
  val FoldDays = 7

  /** The fold week lands 62 + 7k days after the base (k = seed mod 4): always
    * disjoint from the fixture's 62-day window, always the same weekday mix. */
  def foldShift(seed: Long): Int = 62 + 7 * java.lang.Math.floorMod(seed, 4L).toInt

  /** Named curation subset: the cheapest query of each ops/, plans/ and
    * streaming/ family of `SparkEntry.queries` except the graph family (dd,
    * tx, sim, emb, sa, st, ir, mm, tok), so that a cold pass and several
    * warm ones fit one run at sf0.1.
    * Left out for cost, among others: every g query (each builds the
    * document-pair graph on first use; g3_triangles, the cheapest, takes
    * 12 s cold and 0.6 s warm at sf0.1), emb9_pca_power, emb10_pca_project,
    * dd18_span_removal and dd19_incremental_dedup. */
  val CurationQueries: Seq[String] = Seq(
    "dd1_exact_dedup", "tx3_token_count", "sim4_quantize", "emb4_standardize",
    "sa1_hash_sample", "st1_stream_window_agg", "ir1_bm25_topk", "mm4_content_address",
    "tok1_bpe_pair_merges")

  /** The SQL file `SqlRunner.registerWarehouse` cannot serve at this commit:
    * it registers only `pickup_date=`-partitioned and flat tables, so the
    * `trip_date=`-partitioned agg_market_share this query reads is missing.
    * Run once per pass as a known defect, outside the timed operations. */
  val KnownDefectSql = "03_market_share_trends.sql"

  def run(r: Run): Unit = r.workload match {
    case "warehouse" => warehouse(r)
    case "curation_ops" => curationOps(r)
  }

  /** Replica of `graft.tlc.RawGen.main`'s body (which owns and stops its own
    * session): RawGen fixture files, one set per (shiftDays, fromDay, days)
    * window, keeping the trips picked up on `days` days from day `fromDay` of
    * the fixture's 62-day window (2024-12-01 onwards), shifted by `shiftDays`. */
  def rawGen(spark: SparkSession, dir: String, copies: Int, windows: Seq[(Int, Int, Int)]): Unit = {
    val (y0, g0, h0, z) = graft.TlcScaledDemo.rawFixtureN(spark, copies)
    windows.foreach { case (shiftDays, fromDay, days) =>
      def window(df: DataFrame) = {
        val pickup = df.columns.find(_.endsWith("pickup_datetime")).get
        df.filter(expr(s"`$pickup` >= TIMESTAMP'2024-12-01' + INTERVAL $fromDay DAYS AND " +
          s"`$pickup` < TIMESTAMP'2024-12-01' + INTERVAL ${fromDay + days} DAYS"))
      }
      def shift(df: DataFrame) =
        if (shiftDays == 0) df
        else df.schema.fields.filter(_.dataType.typeName.startsWith("timestamp"))
          .foldLeft(df)((d, f) => d.withColumn(f.name, expr(s"`${f.name}` + INTERVAL $shiftDays DAYS")))
      val suffix = if (shiftDays == 0) "" else s"_d$shiftDays"
      Seq("yellow" -> y0, "green" -> g0, "hvfhv" -> h0).foreach { case (name, df) =>
        shift(window(df)).drop("source_file").write.mode("overwrite").parquet(s"$dir/$name$suffix.parquet")
      }
    }
    z.coalesce(1).write.mode("overwrite").parquet(s"$dir/zones.parquet")
  }

  private def cliOpts(raw: String, suffix: String, out: String) = Map(
    "yellow" -> s"$raw/yellow$suffix.parquet", "green" -> s"$raw/green$suffix.parquet",
    "hvfhv" -> s"$raw/hvfhv$suffix.parquet", "zones" -> s"$raw/zones.parquet", "out" -> out)

  private val warehouseTables = Seq("fact_trips", "data_quality_metrics",
    "agg_pricing_by_zone_hour", "agg_hvfhv_take_rates", "agg_market_share", "agg_daily_summary",
    "agg_congestion_fee_impact", "dim_zones", "dim_date", "dim_time", "dim_service",
    "dim_hvfhs_company", "ingestion_log")

  /** Digests every table of the warehouse at `dir` under `prefix/<table>`.
    * The ingestion log's load duration, load time and file checksum (of
    * parquet files whose bytes differ per write) differ on every run.
    * A table written with no rows holds no parquet file and reads as empty. */
  def verifyWarehouse(r: Run, prefix: String, dir: String): Unit = {
    val analytics = Option(new java.io.File(s"$dir/analytics").list()).getOrElse(Array.empty[String])
      .sorted.map(q => s"analytics/$q")
    val (got, dt) = r.op(s"$prefix/digest", sample = false) {
      (warehouseTables ++ analytics).map { t =>
        t -> (if (!Fs.hasParquet(s"$dir/$t")) "empty" else {
          val df = r.spark.read.parquet(s"$dir/$t").drop("load_duration_seconds", "loaded_at", "file_sha256")
          Digest.ofRows(df.schema, df.collect())
        })
      }
    }
    got.foreach(_.foreach { case (t, d) => r.digest(s"$prefix/$t", d) })
    r.figure("verify_s", "s", dt)
  }

  private val buildStages = Map(
    "load" -> "rawloader", "quality" -> "qualitychecks", "standardize" -> "standardize",
    "aggregates" -> "aggregations", "dims" -> "dimensions", "analytics" -> "analytics",
    "finalize" -> "ingestionlog")

  private val foldStages = buildStages.map { case (stage, layer) =>
    stage -> s"fold.$layer"
  }

  /** One pass is the warehouse's life in a fresh session: `Cli` builds it
    * from raw files, an analyst runs the `sql/analytics` files against it
    * through `SqlRunner`, `Cli run-incremental` folds a later week into it,
    * and the same week is folded again (an idempotent no-op). */
  def warehouse(r: Run): Unit = {
    val raw = s"${r.work}/raw"
    val shift = foldShift(r.seed)
    val week = s"_d$shift"
    r.goldenPrefixes ++= Seq("sql/", s"warehouse@$shift/")
    r.setup(rawGen(r.spark, raw, Copies, Seq((0, BaseFromDay, BaseDays), (shift, BaseFromDay, FoldDays))))
    val files = Option(new java.io.File("sql/analytics").list()).getOrElse(Array.empty[String])
      .filter(_.endsWith(".sql")).sorted.toSeq
    require(files.size == 14, s"expected 14 files under sql/analytics, found ${files.size}")
    val timedFiles = files.filterNot(_ == KnownDefectSql)

    def query(f: String): Double = {
      val (res, dt) = r.op(s"sql/$f") {
        r.span(s"sqlrunner.q${f.take(2)}", top = false) {
          val df = r.span("sqlrunner.plan") {
            val df = SqlRunner.runFile(r.spark, s"sql/analytics/$f")
            df.queryExecution.executedPlan
            df
          }
          r.span("sqlrunner.exec")(df.schema -> df.collect())
        }
      }
      res.foreach { case (schema, rows) => r.digest(s"sql/$f", Digest.ofRows(schema, rows)) }
      dt
    }
    def knownDefect(): Unit =
      try r.span("sqlrunner.q03", top = false) {
        val rows = SqlRunner.runFile(r.spark, s"sql/analytics/$KnownDefectSql").collect()
        r.knownDefects(s"sql/$KnownDefectSql") = s"no longer fails: ${rows.length} rows"
      } catch {
        case e: Throwable => r.knownDefects(s"sql/$KnownDefectSql") = e.getClass.getName
      }

    r.measure(minPasses = 1) { i =>
      val wh = s"${r.work}/wh$i"
      val (_, build) = r.op("build", sample = false) {
        r.tapTimings(s => buildStages.get(s).map(_ -> true))(Cli.runPipeline(r.spark, cliOpts(raw, "", wh)))
      }
      r.figure("build_s", "s", build)
      r.figure("warehouse_mb", "MB", Fs.sizeMb(wh))

      val (_, register) = r.op("sql/register", sample = false) {
        r.span("sqlrunner.register")(SqlRunner.registerWarehouse(r.spark, wh))
      }
      val sql = timedFiles.map(query).sum
      knownDefect()
      r.figure("sql_pass_s", "s", register + sql)

      val (_, fold) = r.op("fold", sample = false) {
        r.span("fold", top = false) {
          r.tapTimings(s => foldStages.get(s).map(_ -> true))(Cli.runIncremental(r.spark, cliOpts(raw, week, wh)))
        }
      }
      r.figure("fold_s", "s", fold)

      val (_, replay) = r.op("replay", sample = false) {
        r.span("replay") {
          r.tapTimings(s => if (s == "standardize") Some("replay.standardize" -> false) else None) {
            Cli.runIncremental(r.spark, cliOpts(raw, week, wh))
          }
        }
      }
      r.figure("replay_s", "s", replay)
      verifyWarehouse(r, s"warehouse@$shift", wh)
      Fs.delete(wh)
      build + register + sql + fold + replay
    }
  }

  private def family(q: String): String = q.takeWhile(_.isLetter)

  /** The repository's sf0.1 test data (events, documents and embeddings,
    * byte-identical copies kept with the benchmark so that a checkout holds
    * them), relative to the checkout root the benchmark runs from. */
  val CurationData = "perfbench/data/sf0.1"

  /** One fresh session runs the subset cold, in its listed order, then
    * warm, in seeded order (and again while `seconds` allow): a user's first
    * pass in a new session and the job-floor-bound passes after it. Every
    * execution is a latency sample; the cold pass is the timed pass. */
  def curationOps(r: Run): Unit = {
    // absolute: the streaming queries stage their input through symbolic links
    val data = new java.io.File(CurationData).getAbsolutePath
    val queries = graft.SparkEntry.queries
    def query(q: String, cold: Boolean): Unit = {
      val (res, dt) = r.op(s"curation/$q") {
        r.span(s"sparkentry.${family(q)}") {
          val df = queries(q)(r.spark, data)
          df.schema -> df.collect()
        }
      }
      if (cold) r.figure(s"cold.$q", "s", dt)
      res.foreach { case (schema, rows) => r.digest(s"curation/$q", Digest.ofRows(schema, rows)) }
    }
    r.goldenPrefixes += "curation/"
    r.setup(())
    r.measure(minPasses = 2) { i =>
      val t0 = System.nanoTime()
      if (i == 0) CurationQueries.foreach(query(_, cold = true))
      else new scala.util.Random(r.seed * 1000 + i).shuffle(CurationQueries).foreach(query(_, cold = false))
      (System.nanoTime() - t0) / 1e9
    }
  }
}
