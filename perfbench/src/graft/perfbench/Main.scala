package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark JVM: runs one workload in one `local[4]` session, times the
  * public entry points of `graft.tlc` and `graft.SparkEntry` from outside,
  * digests every output, and writes raw figures as JSON for `run.py`.
  *
  *   graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work <dir> --out <file.json> [--launch-ms <epoch ms>]
  *
  * Untraced runs register only [[CacheWatch]]. Traced runs also attach a
  * [[Probe]] to every pass and tap `Cli`'s `[timing]` lines; their tracing
  * overhead is their pass time minus that of untraced runs.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val o = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val launchMs = o.get("launch-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val workload = o("workload")
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // curation_ops runs the operator suite the way graft.Bench's session does
    if (workload == "curation_ops") builder
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.graft.cacheTables", "true")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, workload, o("seed").toLong, o("seconds").toDouble,
      o("trace") == "1", o("work"), launchMs)
    try {
      Workloads.run(run)
      Files.writeString(Paths.get(o("out")), run.json)
    } finally spark.stop()
  }
}

/** State of one benchmark run: timed samples, digests, failures, spans. */
final class Run(val spark: SparkSession, val workload: String, val seed: Long,
                val seconds: Double, val trace: Boolean, val work: String, launchMs: Long) {
  val watch = new CacheWatch
  spark.sparkContext.addSparkListener(watch)

  val opSamples = mutable.ArrayBuffer.empty[(String, Double)]
  val passSamples = mutable.ArrayBuffer.empty[Double]
  var attempted = 0
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  val digests = mutable.LinkedHashMap.empty[String, mutable.Map[String, Int]]
  val knownDefects = mutable.LinkedHashMap.empty[String, String]
  /** Key prefixes of the goldens this run must produce (`run.py` counts a
    * golden under them that the run did not digest as a failure). */
  val goldenPrefixes = mutable.ArrayBuffer.empty[String]
  /** Workload-specific figures printed for people: name -> (values, unit). */
  val figures = mutable.LinkedHashMap.empty[String, (mutable.ArrayBuffer[Double], String)]
  var setupSeconds = 0.0
  var emptyJobSeconds = 0.0

  // traced-pass state
  private var probe: Probe = _
  private var passSpans: mutable.ArrayBuffer[Span] = _
  val spans = mutable.ArrayBuffer.empty[Span]
  val layerTotals = mutable.LinkedHashMap.empty[String, Double]
  def tracing: Boolean = passSpans != null

  def figure(name: String, unit: String, v: Double): Unit =
    figures.getOrElseUpdate(name, (mutable.ArrayBuffer.empty[Double], unit))._1 += v

  /** Times `body` as one operation; an exception counts as a failure.
    * Before the clock starts, as `graft.Bench` does between timed queries,
    * query-local persists of the previous operation are evicted. */
  def op[T](key: String, sample: Boolean = true)(body: => T): (Option[T], Double) = {
    attempted += 1
    graft.CacheScope.drain(blocking = true)
    val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case e: Throwable =>
        failures += key -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
        System.err.println(s"[perfbench] FAILED $key: $e")
        None
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (sample && r.isDefined) opSamples += key -> dt
    (r, dt)
  }

  def digest(key: String, d: String): Unit = {
    val m = digests.getOrElseUpdate(key, mutable.LinkedHashMap.empty[String, Int])
    m(d) = m.getOrElse(d, 0) + 1
  }

  /** Records a top-level or breakdown span around `body` in a traced pass. */
  def span[T](name: String, top: Boolean = true)(body: => T): T =
    if (!tracing) body
    else {
      val t0 = System.currentTimeMillis()
      try body finally passSpans += Span(name, t0, System.currentTimeMillis(), top)
    }

  /** Spans of `Cli`'s `[timing]` lines printed while `body` ran, named by
    * `stageName` (stages mapped to None are dropped). */
  def tapTimings[T](stageName: String => Option[(String, Boolean)])(body: => T): T =
    if (!tracing) body
    else {
      val err = System.err
      val tap = new TimingTap(err)
      System.setErr(tap)
      try body finally {
        System.setErr(err)
        tap.stages.foreach { case (stage, s, e) =>
          stageName(stage).foreach { case (n, top) => passSpans += Span(n, s, e, top) }
        }
      }
    }

  /** Runs passes until `seconds` have elapsed and at least `minPasses` ran;
    * a traced run traces each. `pass` returns its timed wall seconds. */
  def measure(minPasses: Int)(pass: Int => Double): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      if (trace) {
        probe = new Probe
        passSpans = mutable.ArrayBuffer.empty[Span]
        spark.sparkContext.addSparkListener(probe)
      }
      passSamples += pass(i)
      if (trace) {
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(probe)
        attribute(probe, passSpans.toSeq)
        spans ++= passSpans
        passSpans = null
        probe = null
      }
      i += 1
    }
  }

  /** Adds `ps`' per-layer figures to the running totals. */
  private def attribute(p: Probe, ps: Seq[Span]): Unit = {
    // breakdowns of write-heavy stages, one child per written table
    val children = ps.filter(_.name == "aggregations").flatMap(s =>
      p.splitByWrites(s, path => path.split('/').lastOption.filter(_.startsWith("agg_"))
        .map(t => s"aggregations.$t"))) ++
      ps.filter(_.name == "analytics").flatMap(s =>
        p.splitByWrites(s, path => path.split('/').takeRight(2) match {
          case Array("analytics", q) => Some(s"analytics.q${q.take(2)}")
          case _ => None
        }))
    val all = ps ++ children
    passSpans ++= children
    def add(k: String, v: Double): Unit = layerTotals(k) = layerTotals.getOrElse(k, 0.0) + v
    all.groupBy(_.name).foreach { case (name, ss) =>
      p.stats(ss).foreach { case (stat, v) => add(s"$name.$stat", v) }
    }
    // figures over groups of layers
    def group(prefix: String) = all.filter(s => s.name == prefix || s.name.startsWith(prefix + "."))
    Seq("sqlrunner", "sparkentry").foreach { g =>
      val ss = group(g)
      if (ss.nonEmpty) p.stats(ss).foreach { case (stat, v) => add(s"$g.$stat", v) }
    }
    add("trace.top_s", ps.filter(_.top).map(_.seconds).sum)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).round(new java.math.MathContext(12)).toString
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  private def arr(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")

  private val sessionSeconds = (System.currentTimeMillis() - launchMs) / 1000.0

  private def secs(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Set-up: JVM launch to session ready, then `inputs`; set-up time is
    * their sum. Then times the job floor: the median of 15 one-row jobs. */
  def setup(inputs: => Unit): Unit = {
    val inputSeconds = secs(inputs)
    figure("session_s", "s", sessionSeconds)
    figure("inputs_s", "s", inputSeconds)
    setupSeconds = sessionSeconds + inputSeconds
    val floor = (1 to 15).map(_ => secs(spark.range(1).collect())).sorted
    emptyJobSeconds = floor(floor.size / 2)
  }

  def json: String = {
    val dig = digests.map { case (k, m) =>
      str(k) + ":" + m.map { case (d, n) => str(d) + ":" + n }.mkString("{", ",", "}") }.mkString("{", ",", "}")
    val fails = failures.map { case (k, e) => s"""{"key":${str(k)},"error":${str(e)}}""" }.mkString("[", ",", "]")
    val known = knownDefects.map { case (k, e) => str(k) + ":" + str(e) }.mkString("{", ",", "}")
    val figs = figures.map { case (k, (vs, u)) => s"""${str(k)}:{"values":${arr(vs)},"unit":${str(u)}}""" }
      .mkString("{", ",", "}")
    val layers = layerTotals.map { case (k, v) => str(k) + ":" + num(v) }.mkString("{", ",", "}")
    val spanJson = spans.map(s =>
      s"""{"name":${str(s.name)},"start":${s.start},"end":${s.end},"top":${s.top}}""").mkString("[", ",", "]")
    s"""{"workload":${str(workload)},"seed":$seed,"setup_s":${num(setupSeconds)},""" +
      s""""empty_job_s":${num(emptyJobSeconds)},"peak_cached_mb":${num(watch.peakBytes / 1048576.0)},""" +
      s""""op_samples":${arr(opSamples.map(_._2))},"op_keys":${opSamples.map(o => str(o._1)).mkString("[", ",", "]")},""" +
      s""""pass_samples":${arr(passSamples)},""" +
      s""""attempted":$attempted,"failures":$fails,"digests":$dig,"known_defects":$known,""" +
      s""""golden_prefixes":${goldenPrefixes.map(str).mkString("[", ",", "]")},""" +
      s""""figures":$figs,"layers":$layers,"spans":$spanJson}"""
  }
}

object Fs {
  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  def hasParquet(dir: String): Boolean =
    Files.isDirectory(Paths.get(dir)) &&
      Files.walk(Paths.get(dir)).iterator().asScala.exists(_.toString.endsWith(".parquet"))

  def sizeMb(dir: String): Double =
    Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum / 1048576.0
}
