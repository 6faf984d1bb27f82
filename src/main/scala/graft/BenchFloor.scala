package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stage-barrier floor calibration (r13 verdict item 2) + streaming
  * lifecycle floor (item 6) — the measurement that converts the suite's
  * recurring "k dependent barriers × the local-mode stage floor"
  * adjudication from argument into arithmetic.
  *
  * Measurements, one JSON artifact (BENCH_FLOOR_r{N}):
  *
  *   1. A SYNTHETIC k-barrier chain, k = 1..8: stage 1 is one real
  *      hash-aggregate over the session-cached lineitem; each further
  *      stage re-keys the previous result (pmod of a derived key) and
  *      re-aggregates, so Catalyst cannot collapse or reorder the
  *      exchanges — exactly k dependent shuffle barriers with near-zero
  *      marginal data work. Sampling is INTERLEAVED: after a global
  *      two-pass warm over every k (JIT + codegen settle before any
  *      timing), each of 4 rounds times all 8 chains once, alternating
  *      ascending/descending order, and the per-k minimum is kept — a
  *      monotonic warm-up or load drift then biases every k equally
  *      instead of tilting the slope (the v1 ascending-order run measured
  *      a NEGATIVE slope, a physical impossibility for dependent
  *      barriers). Least-squares slope of t(k) = the per-barrier floor;
  *      t(1) = the cost of ONE full-table mergeable aggregation pass at
  *      this SF, the quantum the multi-pass tail queries pay per pass.
  *      Jobs and stages per k are counted once with a SparkListener so
  *      the chain's own barrier accounting is measured, not assumed.
  *   2. Minimal-action probes over a cached 1000-row frame: J0 = a
  *      no-shuffle count() job; J1 = a one-shuffle groupBy/sum action
  *      (2 stages + one AQE re-plan). These separate the per-JOB fixed
  *      cost from the chain intercept, which also contains the real
  *      first-pass aggregation work.
  *   3. Streaming lifecycle floors, matching the st-gate shape: an empty
  *      MemoryStream episode (absolute lower bound), then a 5-row parquet
  *      FILE-SOURCE drain — stateless passthrough (append) and stateful
  *      groupBy-count (complete) — the exact start → processAllAvailable
  *      → stop machinery every st gate pays per timed run
  *      (StreamingOps.drainToTable). First sample and min-of-5 are both
  *      recorded: Bench warms each gate once untimed, so the gates' timed
  *      runs are warm episodes and `min` is the honest comparator; the
  *      first sample shows the one-time streaming-engine class-load cost.
  *   4. The ADJUDICATED TAIL re-expressed in measured quanta: each
  *      query's jobs and stages are counted with a SparkListener during a
  *      warmed untimed run, then
  *        floor_credit     = jobs × J0 + max(0, stages − jobs) × slope
  *        residual         = min-of-N sec − floor_credit
  *        one_pass_equiv   = sec / t(1)  (how many full-table mergeable
  *                           passes the query costs — the BASELINE.md
  *                           narrative compares this against the pass
  *                           count the operator's structure declares)
  *      Stage counts include independent (parallelizable) stages, so the
  *      credit OVERSTATES the floor and the residual is conservative.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… SPARK_GRAFT_CPUS=32 \
  *          sbt "runMain graft.BenchFloor out.json"
  */
object BenchFloor {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = args.headOption.getOrElse("BENCH_FLOOR.json")
    val cpus = Session.cpus
    val spark = Session.local("graft-bench-floor", Bench.measurementConfs: _*)
    spark.sparkContext.setLogLevel("ERROR")

    // graft.Bench's adaptive min-of-N stop rule, verbatim
    def timeIt(body: => Unit): Double = {
      body // warm
      CacheScope.drain(blocking = true)
      System.gc()
      val ts = scala.collection.mutable.ArrayBuffer.empty[Double]
      var attempts = 0
      var elapsed = 0.0
      var done = false
      while (!done) {
        val t0 = System.nanoTime()
        body
        val dt = (System.nanoTime() - t0) / 1e9
        CacheScope.drain(blocking = true)
        attempts += 1
        elapsed += dt
        ts += dt
        done = (ts.size >= 2 && ts.count(_ <= ts.min * 1.2) >= 2) ||
          attempts >= 5 || elapsed > 30.0
      }
      ts.min
    }

    // shared job/stage counter (listener bus is async: settle after runs)
    val jobCounter = new java.util.concurrent.atomic.AtomicInteger()
    val stageCounter = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobCounter.incrementAndGet()
      override def onStageSubmitted(
          s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        stageCounter.incrementAndGet()
    }
    def countJobsStages(body: => Unit): (Int, Int) = {
      spark.sparkContext.addSparkListener(listener)
      jobCounter.set(0); stageCounter.set(0)
      body
      // ADVICE r13: the listener bus is async and a fixed 500 ms sleep can
      // miss late events under load — poll until both counters are stable
      // across two consecutive 100 ms checks (bounded at 5 s).
      var last = (-1, -1)
      var cur = (jobCounter.get(), stageCounter.get())
      var waited = 0
      while (last != cur && waited < 5000) {
        last = cur
        Thread.sleep(100)
        waited += 100
        cur = (jobCounter.get(), stageCounter.get())
      }
      spark.sparkContext.removeSparkListener(listener)
      cur
    }

    // --- 1. synthetic k-barrier chain, interleaved sampling --------------
    def chain(k: Int): DataFrame = {
      var df = Tables.lineitem(spark, sfDir)
        .select(pmod(col("l_orderkey"), lit(1000003L)).as("k1"),
          col("l_extendedprice").as("v"))
        .groupBy("k1").agg(sum(col("v")).as("v"))
      for (i <- 2 to k) {
        df = df
          .select(pmod(col(s"k${i - 1}") * 31 + i, lit(1000003L)).as(s"k$i"),
            col("v"))
          .groupBy(s"k$i").agg(sum(col("v")).as("v"))
      }
      df
    }
    // consume with a NON-COLLAPSIBLE action: a global max of the final
    // group-sums needs every level's sums, so no aggregate can be pruned.
    // count() is NOT that action — it reduces keys-only aggregates, and
    // RemoveRedundantAggregates then collapses the whole chain into one
    // distinct over the composed key expression (the v1 artifact measured
    // 3 stages for k=8 and a negative slope because of exactly this).
    def runChain(k: Int): Unit = { chain(k).agg(max(col("v"))).collect(); () }
    Tables.lineitem(spark, sfDir).count() // materialize the session cache once
    val ks = 1 to 8
    // global warm: two full passes over every k BEFORE any timing, so JIT /
    // codegen / scheduler warm-up is paid up front, not inside k=1's samples
    for (_ <- 1 to 2; k <- ks) runChain(k)
    val chainJobsStages = ks.map { k =>
      k -> countJobsStages(runChain(k))
    }.toMap
    val samples =
      scala.collection.mutable.Map.empty[Int, List[Double]].withDefaultValue(Nil)
    for (round <- 1 to 4) {
      val order = if (round % 2 == 1) ks else ks.reverse
      for (k <- order) {
        System.gc()
        val t0 = System.nanoTime()
        runChain(k)
        samples(k) = ((System.nanoTime() - t0) / 1e9) :: samples(k)
      }
    }
    val chainTimes = ks.map(k => k -> samples(k).min).toMap
    // least-squares slope over (k, t): the per-barrier floor
    val n = ks.size.toDouble
    val sx = ks.sum.toDouble
    val sy = ks.map(chainTimes).sum
    val sxx = ks.map(k => k * k).sum.toDouble
    val sxy = ks.map(k => k * chainTimes(k)).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val intercept = (sy - slope * sx) / n
    val onePass = chainTimes(1)

    // --- 2. minimal-action probes ----------------------------------------
    val tiny = spark.range(1000)
      .select((col("id") % 50).as("g"), col("id").cast("double").as("v"))
      .cache()
    tiny.count() // materialize
    def minOfN(nRuns: Int)(body: => Unit): Double = {
      body // warm
      (1 to nRuns).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }.min
    }
    val j0 = minOfN(20)(tiny.count())
    val j1 = minOfN(20)(tiny.groupBy("g").agg(sum(col("v")).as("s")).collect())
    tiny.unpersist(true)

    // --- 3. streaming lifecycle floors -----------------------------------
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val probeId = new java.util.concurrent.atomic.AtomicInteger()
    def memEpisode(): Unit = {
      val ms = MemoryStream[Int]
      val q = ms.toDF().writeStream.outputMode("append").format("memory")
        .queryName(s"floor_mem_${probeId.incrementAndGet()}").start()
      try q.processAllAvailable() finally q.stop()
    }
    // file-source probe data: 5 rows, one parquet file (the st-gate shape)
    val srcDir = java.nio.file.Files.createTempDirectory("graft_floor_src_")
    val probeDf = spark.range(5)
      .select(col("id").as("k"), (col("id") * 2).cast("double").as("v"))
    probeDf.coalesce(1).write.mode("overwrite").parquet(srcDir.toString)
    val probeSchema = probeDf.schema
    // the episode runs under the SAME conf the st gates drain under
    // (streaming.StreamingOps.withStatePartitions: 4 state partitions,
    // tmpfs checkpoint) — the floor must price the gate shape, not a
    // mis-sized 32-partition state store on disk
    def fileEpisode(stateful: Boolean): Unit =
      streaming.StreamingOps.withStatePartitions(spark) {
        val src = spark.readStream.schema(probeSchema).parquet(srcDir.toString)
        val out = if (stateful) src.groupBy(col("k")).agg(sum(col("v")).as("s"))
                  else src
        val q = out.writeStream
          .outputMode(if (stateful) "complete" else "append")
          .format("memory")
          .queryName(s"floor_file_${probeId.incrementAndGet()}")
          .start()
        try q.processAllAvailable() finally q.stop()
      }
    def firstAndMin(nRuns: Int)(body: => Unit): (Double, Double) = {
      val ts = (1 to nRuns).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      (ts.head, ts.min)
    }
    val (memFirst, memMin) = firstAndMin(5)(memEpisode())
    val (flsFirst, flsMin) = firstAndMin(5)(fileEpisode(stateful = false))
    val (flfFirst, flfMin) = firstAndMin(5)(fileEpisode(stateful = true))

    // r15 (verdict item 5): two more terms so the st gates decompose.
    // (a) DATA term — the same stateful sum-agg episode over the real
    //     events file (the st1/st6 input), so the delta vs the 5-row
    //     stateful probe prices the per-batch data work at gate scale.
    //     nanosAsLong (Tables.events' reading of TIMESTAMP(NANOS) files) is
    //     set for the schema read and these episodes only.
    val eventsPath = s"$sfDir/events.parquet"
    val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
    val nanosWas = spark.conf.getOption(nanosAsLong)
    spark.conf.set(nanosAsLong, "true")
    val eventsSchema = spark.read.parquet(eventsPath).schema
    val evDir = java.nio.file.Files.createTempDirectory("graft_floor_ev_")
    val evLink = java.nio.file.Files.createSymbolicLink(
      evDir.resolve("events_1.parquet"), java.nio.file.Paths.get(eventsPath))
    def eventsEpisode(): Unit =
      streaming.StreamingOps.withStatePartitions(spark) {
        val src = graft.Tables.normalizeTs(
          spark.readStream.schema(eventsSchema).parquet(evDir.toString), "ts")
        val out = src.groupBy(col("user_id"))
          .agg(sum(col("value")).as("s"), count(lit(1)).as("n"))
        val q = out.writeStream.outputMode("complete").format("memory")
          .queryName(s"floor_events_${probeId.incrementAndGet()}").start()
        try q.processAllAvailable() finally q.stop()
      }
    // (b) STATE-PROCESSING term — a trivial flatMapGroupsWithState over the
    //     5-row probe (st3's operator): deserialization into case classes,
    //     per-group state round-trip, append-mode emission. Delta vs the
    //     stateful sum-agg probe prices the custom-state machinery itself.
    def fmgwsEpisode(): Unit =
      streaming.StreamingOps.withStatePartitions(spark) {
        import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode => OM}
        val src = spark.readStream.schema(probeSchema).parquet(srcDir.toString)
        val out = src.as[(Long, Double)]
          .groupByKey(_._1)
          .flatMapGroupsWithState(
            OM.Append, GroupStateTimeout.NoTimeout) {
            (k: Long, it: Iterator[(Long, Double)],
             st: org.apache.spark.sql.streaming.GroupState[Long]) =>
              val n = st.getOption.getOrElse(0L) + it.size
              st.update(n)
              Iterator.single((k, n))
          }
        val q = out.toDF("k", "n").writeStream.outputMode("append")
          .format("memory")
          .queryName(s"floor_fmgws_${probeId.incrementAndGet()}").start()
        try q.processAllAvailable() finally q.stop()
      }
    val (fevFirst, fevMin) = try firstAndMin(5)(eventsEpisode()) finally {
      nanosWas.fold(spark.conf.unset(nanosAsLong))(spark.conf.set(nanosAsLong, _))
      java.nio.file.Files.delete(evLink)
      java.nio.file.Files.delete(evDir)
    }
    // fmgws is the last probe reading the 5-row source dir
    val (fmgFirst, fmgMin) = try firstAndMin(5)(fmgwsEpisode()) finally
      org.apache.spark.network.util.JavaUtils.deleteRecursively(srcDir.toFile)

    // --- 4. the adjudicated tail: measured quanta + residual --------------
    val tail = sys.env.get("SPARK_GRAFT_FLOOR_QUERIES")
      .map(_.split(",").toSeq)
      .getOrElse(Seq(
        "w12_robust_mad", "w16_decile_fences", "a18_ordered_set",
        "a27_group_quantiles", "a26_weighted_median", "a2_percentiles",
        "tlc_sql_q14", "tlc_pipeline_q04", "tlc_pipeline_q11",
        "tlc_pipeline_q12", "tlc_pipeline_q14", "tlc_agg_pricing",
        "s19_encoding_plan", "j14_salted_join"))
      .filter(SparkEntry.queries.contains)
    val tailRows = tail.map { name =>
      // collect(), matching Bench's r13 consumption (and duckbase fetchall)
      val run = () => { SparkEntry.queries(name)(spark, sfDir).collect(); () }
      run() // warm (codegen, session caches) before counting
      CacheScope.drain(blocking = true)
      val (jobs, stages) = countJobsStages(run())
      CacheScope.drain(blocking = true)
      val t = timeIt(run())
      val credit = jobs * j0 + math.max(0, stages - jobs) * slope
      name -> (t, jobs, stages, credit, t - credit, t / onePass)
    }

    def f(v: Double): String =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val chainJson = ks.map { k =>
      val (j, s) = chainJobsStages(k)
      s""""$k":{"sec":${f(chainTimes(k))},"jobs":$j,"stages":$s}"""
    }.mkString("{", ",", "}")
    val tailJson = tailRows.map { case (name, (t, j, s, cr, res, pe)) =>
      s""""$name":{"sec":${f(t)},"jobs":$j,"stages":$s,"floor_credit":${f(cr)},"residual_after_floor":${f(res)},"one_pass_equivalents":${f(pe)}}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"stage_floor_calibration","unit":"sec","sf":"$sfDir","cpus":$cpus,
 "chain_by_k":$chainJson,
 "per_barrier_floor_sec":${f(slope)},
 "chain_intercept_sec":${f(intercept)},
 "one_pass_full_table_agg_sec":${f(onePass)},
 "min_job_floor_sec":${f(j0)},
 "one_shuffle_action_floor_sec":${f(j1)},
 "streaming_episode_floor_sec":{"memstream_empty_first":${f(memFirst)},"memstream_empty_min":${f(memMin)},"file_stateless_5row_first":${f(flsFirst)},"file_stateless_5row_min":${f(flsMin)},"file_stateful_5row_first":${f(flfFirst)},"file_stateful_5row_min":${f(flfMin)},"file_stateful_events_first":${f(fevFirst)},"file_stateful_events_min":${f(fevMin)},"file_fmgws_5row_first":${f(fmgFirst)},"file_fmgws_5row_min":${f(fmgMin)}},
 "tail":$tailJson,
 "methodology":"chain: k dependent re-keyed hash-aggs over the session-cached lineitem; two full warm passes over every k, then 4 interleaved rounds (alternating k order) of single timed runs, min per k — a monotonic warm-up/drift biases every k equally instead of tilting the slope; floor = least-squares slope of t(k), k=1..8; t(1) = one full-table mergeable agg pass; consumption is agg(max(v)).collect() so no level can be pruned or collapsed (count() collapsed the v1 chain to 3 stages at any k). probes: J0 = min-of-20 no-shuffle count on a cached 1000-row frame, J1 = min-of-20 one-shuffle groupBy/sum collect. streaming: first + min-of-5 of start->processAllAvailable->stop episodes — empty MemoryStream, then 5-row parquet file-source stateless/stateful under withStatePartitions (4 state partitions, tmpfs checkpoint - the exact st-gate drain shape); Bench warms each gate untimed so min is the honest per-gate comparator. r15 adds two decomposition terms (verdict item 5): file_stateful_events = the same stateful agg episode over the real sf events file (delta vs 5-row stateful = per-batch DATA work at gate scale), file_fmgws_5row = trivial flatMapGroupsWithState over the 5-row probe (delta vs stateful agg = custom-state machinery, the st3 operator). tail: jobs+stages counted by SparkListener on a warmed untimed run (includes independent stages, so the credit OVERSTATES the floor and the residual is conservative); floor_credit = jobs*J0 + max(0,stages-jobs)*slope; one_pass_equivalents = sec / t(1)."}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json.linesIterator.mkString(" "))
    spark.stop()
  }
}
