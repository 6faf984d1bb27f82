package graft.tlc

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL-file analytics entry point — the reference's second query path
  * (cli.py:279–297 `run-analytics <file.sql>`): read an arbitrary SQL file
  * and execute it against the built warehouse. The reference hands the text
  * to DuckDB's parse→optimize→execute stack; the Spark shape (SURVEY §3.2)
  * registers the warehouse tables as temp views and hands each statement to
  * `spark.sql`, so Catalyst does parse→analyze→optimize→physical and the
  * user's existing analytics SQL (ANSI + `PERCENTILE_CONT … WITHIN GROUP`,
  * which Spark supports natively) runs unchanged over DataFrame-built
  * tables. Nothing is materialized for registration — a temp view is just a
  * named logical plan, so a query over it still gets filter pushdown and
  * column pruning into the underlying scans.
  */
object SqlRunner {

  /** Warehouse view names mirror the reference DDL (01_staging_tables.sql /
    * 02_dimension_tables.sql / 04_aggregate_tables.sql table names), so a
    * reference user's SQL resolves as-is. */
  def registerViews(tables: TlcTables,
                    extra: Map[String, DataFrame] = Map.empty): Unit = {
    val views = Map(
      "fact_trips" -> tables.fact,
      "dim_zones" -> tables.dimZones,
      "dim_date" -> tables.dimDate,
      "dim_time" -> tables.dimTime,
      "dim_service" -> tables.dimService,
      "dim_hvfhs_company" -> tables.dimHvfhsCompany,
      "agg_market_share" -> tables.aggMarketShare) ++ extra
    views.foreach { case (name, df) => df.createOrReplaceTempView(name) }
  }

  /** Register a parquet warehouse directory in the layout `Cli` writes
    * (fact_trips, dim_*, agg_*, data_quality_metrics subdirs): every
    * subdir that holds parquet files, or Hive-style `<column>=<value>`
    * partition dirs (fact_trips by pickup_date, the date-grained agg_*
    * tables by trip_date), becomes a view named after it. */
  private val PartitionDir = """[^_.=][^=]*=.*""".r

  def registerWarehouse(spark: SparkSession, dir: String): Seq[String] = {
    val root = new java.io.File(dir)
    val subdirs = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .filter(f => Option(f.listFiles()).getOrElse(Array.empty).exists(c =>
        c.getName.endsWith(".parquet") || (c.isDirectory && PartitionDir.matches(c.getName))))
    subdirs.map { d =>
      spark.read.parquet(d.getPath).createOrReplaceTempView(d.getName)
      d.getName
    }.toSeq.sorted
  }

  /** Split a SQL script into statements: strip line comments (dash-dash to
    * end of line) and block comments (slash-star to star-slash), then split
    * on top-level `;`. Quote-aware — a `;` or comment marker inside a
    * string literal survives untouched (single quotes with `''` escaping,
    * double quotes for identifiers). */
  def splitStatements(script: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    val n = script.length
    var inSingle = false
    var inDouble = false
    while (i < n) {
      val c = script.charAt(i)
      if (inSingle) {
        cur += c
        if (c == '\'') inSingle = false
        i += 1
      } else if (inDouble) {
        cur += c
        if (c == '"') inDouble = false
        i += 1
      } else if (c == '-' && i + 1 < n && script.charAt(i + 1) == '-') {
        while (i < n && script.charAt(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < n && script.charAt(i + 1) == '*') {
        i += 2
        while (i + 1 < n && !(script.charAt(i) == '*' && script.charAt(i + 1) == '/')) i += 1
        i = math.min(i + 2, n)
      } else if (c == ';') {
        out += cur.toString
        cur.clear()
        i += 1
      } else {
        if (c == '\'') inSingle = true
        if (c == '"') inDouble = true
        cur += c
        i += 1
      }
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Execute every statement in the script; return the last result (the
    * reference's `conn.execute(sql).fetchdf()` semantics — earlier
    * statements may CREATE TEMP VIEW / SET, the final SELECT is the
    * answer). Throws on an empty script. */
  def runScript(spark: SparkSession, script: String): DataFrame = {
    // the SQL entry point is exactly where a reference user's
    // PERCENTILE_CONT lands on the builtin single-task aggregate — give
    // the session the scale-safe rewrite (production sessions get it via
    // spark.sql.extensions=graft.GraftExtensions)
    graft.plans.RewritePercentileAgg.register(spark)
    val stmts = splitStatements(script)
    require(stmts.nonEmpty, "SQL script contains no statements")
    stmts.map(spark.sql).last
  }

  def runFile(spark: SparkSession, path: String): DataFrame =
    runScript(spark, new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))
}
