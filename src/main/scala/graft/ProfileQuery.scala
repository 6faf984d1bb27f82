package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Diagnostic main for the r14 optimization round (guide §1: measure first).
  *
  * For each query name on the command line: one warm run, then one profiled
  * run under a listener that counts jobs/stages and attributes per-stage
  * wall time, so a slow query can be blamed on a specific plan region
  * (shuffle barrier, broadcast build, expression-heavy scan) instead of
  * guessed at. Methodology mirrors Bench.scala (same session settings, same
  * collect() consumption, CacheScope.drain between runs) so the numbers are
  * comparable to BENCH_DETAIL.json entries.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local("graft-profile", Bench.measurementConfs: _*)
    spark.sparkContext.setLogLevel("ERROR")

    @volatile var jobs = 0
    val jobInfo = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Int, String)]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs += 1
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        jobInfo.add((js.jobId, js.time, js.stageInfos.size, site))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(-1L)
        // first graft./operator frame in the stage's call-site details, so a
        // slow stage maps back to the operator that created its RDD
        val site = si.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("ProfileQuery"))
          .getOrElse("").trim.take(90)
        stages.add((si.stageId, dur, si.numTasks, site))
      }
    }

    for (n <- args) {
      // warm (same as Bench)
      try SparkEntry.queries(n)(spark, sfDir).collect()
      catch { case e: Throwable => println(s"$n WARM FAIL: $e") }
      CacheScope.drain(blocking = true)
      System.gc()
      jobs = 0; stages.clear(); jobInfo.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      try SparkEntry.queries(n)(spark, sfDir).collect()
      catch { case e: Throwable => println(s"$n FAIL: $e") }
      val dt = (System.nanoTime() - t0) / 1e9
      // settle the async listener bus: poll until counts are stable
      // (ADVICE r13 pattern — no fixed sleep)
      var last = (-1, -1)
      var cur = (jobs, stages.size)
      while (last != cur) { last = cur; Thread.sleep(100); cur = (jobs, stages.size) }
      spark.sparkContext.removeSparkListener(listener)
      CacheScope.drain(blocking = true)
      val ss = stages.toArray(Array.empty[(Int, Long, Int, String)]).sortBy(_._1)
      val stageSum = ss.map(_._2).sum / 1e3
      println(f"===== $n%-28s total $dt%7.3f s  jobs $jobs%3d  stages ${ss.length}%3d  stage-sum $stageSum%7.3f s")
      for ((id, dur, tasks, name) <- ss)
        println(f"  stage $id%4d ${dur / 1e3}%7.3f s  tasks $tasks%4d  $name")
      val js = jobInfo.toArray(Array.empty[(Int, Long, Int, String)]).sortBy(_._1)
      val tBase = js.headOption.map(_._2).getOrElse(0L)
      for ((id, t, nst, site) <- js)
        println(f"  job $id%4d +${(t - tBase) / 1e3}%7.3f s  stages $nst%3d  $site")
    }
    spark.stop()
  }
}
