package graft

import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession

/** The one place this library builds a SparkSession: the mains, the Cli and
  * the test fixtures all go through [[local]], so every session plans with
  * every [[GraftExtensions]] piece from its first query on.
  *
  * Environment:
  *  - `SPARK_MASTER` — the master URL; default `local[$SPARK_GRAFT_CPUS]`;
  *  - `SPARK_GRAFT_CPUS` — local cores and shuffle partitions; default every
  *    available processor;
  *  - `SPARK_GRAFT_CONF` (`k=v;k=v`) — runtime confs set after the session
  *    is built, the local A/B hook for plan-variant measurement runs (e.g.
  *    `spark.graft.sqlPercentileRewrite=false`). Every key it sets is
  *    logged at WARN, so an override is visible in any run's log.
  */
object Session extends Logging {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Gets or creates the session: UTC, no UI, `cpus` shuffle partitions,
    * log level WARN, built with [[GraftExtensions]], and a codegen cache of
    * 4096 generated classes. Spark's default of 100 is less than one Cli
    * warehouse run or one pass over the sql/analytics files compiles, so
    * each file recompiled the classes the previous ones had evicted (one
    * Cli run compiled 1,042 classes, 462 of them source already compiled;
    * the Bench suite's warm pass evicted its own timed stages). Spark sizes
    * the cache once per JVM, from the session active when it first
    * generates code. `extraConfs` go to the builder, so static confs are
    * allowed. */
  def local(appName: String, extraConfs: (String, String)*): SparkSession = {
    val n = cpus
    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$n]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .withExtensions(new GraftExtensions)
    extraConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_CONF").foreach(parseConf(_).foreach { case (k, v) =>
      logWarning(s"SPARK_GRAFT_CONF sets $k=$v")
      spark.conf.set(k, v)
    })
    spark
  }

  /** `k=v;k=v` to pairs, in order. An entry without `=` is skipped; a value
    * keeps any `=` after the first. */
  def parseConf(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> v
    }
}
