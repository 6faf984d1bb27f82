package graft

/** Benchmark main — prints ONE JSON line with per-query steady-state
  * seconds at SPARK_GRAFT_SF_DIR.
  *
  * Methodology: each query runs once to warm, then adaptive min-of-N timed
  * runs (stop when two runs agree within 20% of the running min; cap 5
  * runs / 30 s per query) and the MIN successful run is reported. The warm
  * run compiles the whole-stage codegen, JITs it, populates the session
  * file-listing cache and amortizes one-time layout work (s5's hive layout,
  * b1's bucketed tables) exactly as a long-lived production session would —
  * cold-start dominated the naive numbers (dd5 7.0 s cold vs 0.69 s
  * steady-state).
  *
  * Consumption is `collect()`, NOT `count()`: every query pays its full
  * select list, final sort, and result materialization, as the DuckDB
  * oracle's `fetchall()` does — while `count()` let Catalyst prune
  * everything that doesn't affect cardinality. That is not a rounding
  * error: pruning turns a grouped aggregate battery into a keys-only
  * Distinct (a1's decimal sums: 0.58 s counted vs 3.7 s computed at
  * sf0.1), collapses chained aggregations outright
  * (RemoveRedundantAggregates on keys-only aggregates: a chain of k
  * dependent re-aggregations measured a NEGATIVE per-barrier slope because
  * count() reduced it to ONE distinct over the composed key expression),
  * and skips final ORDER BYs. Every number therefore pays for computing
  * the full result set and delivering it to the driver.
  */
object Bench {
  /** Session confs of every measurement main (Bench, ProfileQuery,
    * PlanDump), so their numbers and plans are comparable: base tables
    * stay hot across the suite (see Tables.memo's scaladoc), since cold
    * per-query parquet decode would add format-decoder cost that is not
    * operator work. (The codegen cache size every session gets is set by
    * [[Session.local]].) */
  val measurementConfs: Seq[(String, String)] = Seq(
    "spark.graft.cacheTables" -> "true")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_CONF (Session.local) carries LOCAL A/B plan variants,
    // e.g. "spark.graft.sqlPercentileRewrite=false"; unset, a run gets the
    // shipped defaults.
    val spark = Session.local("graft-bench", measurementConfs: _*)
    spark.sparkContext.setLogLevel("ERROR")
    // Optional comma-separated name-prefix filter (SPARK_GRAFT_BENCH_ONLY):
    // re-time just the queries a plan change touched, under the same rule,
    // without paying the full suite.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSeq)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    // Warm IMMEDIATELY before timing each query (not one big warm pass):
    // keeps that query's generated classes and JIT state hot when measured
    // (one big warm pass evicted the codegen cache in round 1).
    val results = names.map { n =>
      try SparkEntry.queries(n)(spark, sfDir).collect()
      catch { case _: Throwable => () }
      // Evict query-local persists: CacheManager plan-dedup would otherwise
      // serve every timed repeat from the warm run's InMemoryRelation, so
      // the sample would exclude the query's own scan+agg work. Blocking:
      // the eviction must FINISH before the next timed window opens.
      CacheScope.drain(blocking = true)
      // Pay the collector debt of the warm run (and of heavier neighbors)
      // OUTSIDE the timed window: round-3 timings showed multi-second GC
      // bleed-through in alphabetical runs following allocation-heavy
      // queries (dd8 → f10/f11/f1/f2, j5 → j6/j7/j8), which is scheduler
      // noise, not plan cost.
      System.gc()
      // ADAPTIVE min-of-N: the bench box runs the build driver concurrently,
      // and one run recorded 19 s for a plan that takes 0.5 s idle —
      // min-of-2 was not enough chances to catch a quiet scheduler
      // window. Keep timing until two runs agree within 20% of the running
      // min (steady-state reached), bounded by 5 runs / 30 s per query so a
      // genuinely heavy plan cannot blow the suite's wall clock. Idle, this
      // degenerates to exactly the old min-of-2.
      // Only SUCCESSFUL runs contribute samples: a throwing query fails in
      // near-zero time, and timing it would report the broken query as the
      // suite's fastest instead of as an error. No-success queries get a -1
      // sentinel and are excluded from the total.
      val ts = scala.collection.mutable.ArrayBuffer.empty[Double]
      var attempts = 0
      var elapsed = 0.0
      var done = false
      var loggedErr = false
      while (!done) {
        val t0 = System.nanoTime()
        val ok = try { SparkEntry.queries(n)(spark, sfDir).collect(); true }
          catch { case e: Throwable =>
            // A silently-swallowed failure would record the query as a DNF
            // with no trace: log the first failure's class and message to
            // stderr.
            if (!loggedErr) {
              System.err.println(
                s"ERR $n: ${e.getClass.getName}: ${e.getMessage}")
              loggedErr = true
            }
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        CacheScope.drain(blocking = true) // outside the timed window; next run re-pays
        attempts += 1
        elapsed += dt
        if (ok) ts += dt
        done = (ts.size >= 2 && ts.count(_ <= ts.min * 1.2) >= 2) ||
          attempts >= 5 || elapsed > 30.0
      }
      n -> (if (ts.isEmpty) -1.0 else ts.min)
    }
    def fmt(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val failed = results.filter(_._2 < 0).map(_._1)
    val total = fmt(results.collect { case (_, v) if v >= 0 => v }.sum)
    // The driver captures only the TAIL of stdout: a 109-query map overflowed
    // that window in rounds 1 AND 2 (parsed: null). So the FULL per-query map
    // goes to a committed file, and the final stdout line stays short — total
    // plus a dozen headline queries (the heavy or scale-relevant plans).
    val qsAll = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"failed":$failedJson,"queries":$qsAll,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val headline = Set(
      "a1_pricing_summary", "dd2_minhash_lsh", "dd4_ngram_jaccard",
      "dd7_cc_clusters", "dd8_neardup_lsh", "sim1_cosine_topk", "sim2_lsh_ann",
      "j1_broadcast_dim", "j5_double_dim", "w1_row_number", "w7_topk_native",
      "st1_stream_window_agg", "tx6_bigram_lm_score")
    val qsHead = results.filter(r => headline(r._1))
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsHead,"n_queries":${results.size},"n_failed":${failed.size},"detail":"$detailPath","sf":"$sfDir"}""")
    spark.stop()
  }
}
