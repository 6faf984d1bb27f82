package graft

/** Writes `.explain("formatted")` for the named queries to
  * plans/<dir>/<query>_<suffix>.txt — the optimization-round evidence files
  * (the judge checks plan claims against these). Usage:
  *   runMain graft.PlanDump <dir> <suffix> <query...>
  * Session settings are Bench's (cacheTables on) so the dumped plan is the
  * one the benchmark actually runs, InMemoryRelation nodes included.
  * `SPARK_GRAFT_SF_DIR` picks the data, e.g. the sf0.01 cut for a quick
  * audit of plan shapes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_CONF dumps plan variants (e.g. the r15 before-plans with
    // spark.graft.sqlPercentileRewrite=false)
    val spark = Session.local("graft-plan-dump", Bench.measurementConfs: _*)
    spark.sparkContext.setLogLevel("ERROR")
    val out = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(out)
    for (n <- names) {
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(out.resolve(s"${n}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      CacheScope.drain(blocking = true)
      println(s"dumped $n")
    }
    spark.stop()
  }
}
