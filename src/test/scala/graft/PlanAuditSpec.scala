package graft

import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SortableDoubleBits
import graft.tlc.Fixtures

/** Physical-plan regression guards: the properties that make these operators
  * scale (pushdown, pruning, broadcast, partial aggregation, the custom
  * top-k) must stay visible in the plans — a refactor that silently loses
  * one is a performance bug even when results stay correct. */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = Fixtures.sparkSession()
  val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  /** The executed plan of every execution `body` runs in this session,
    * including the eager checkpoints a query takes while it is built. */
  private def executedPlans(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      ListenerBusAccess.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    seen.toArray(Array.empty[String]).toSeq
  }

  test("s1: filter is pushed to the parquet scan and columns are pruned") {
    val p = plan("s1_scan_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_extendedprice:double"))
    assert(!p.contains("l_comment") && !p.contains("l_partkey"))
  }

  test("j1: dim join is a broadcast hash join, never a shuffle join") {
    val p = plan("j1_broadcast_dim")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("j7: IN-subquery plans as a broadcast LEFT SEMI join") {
    val p = plan("j7_semi_join")
    assert(p.contains("LeftSemi"))
  }

  test("a1: aggregation is partial+final (map-side combine before the exchange)") {
    val p = plan("a1_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("t1: top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("t1_topk_revenue")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("t5: offset page fetch plans as TakeOrderedAndProject, not a global sort") {
    // offset+limit must ride the same top-k machinery as t1: fetch
    // offset+limit per partition, merge, drop the prefix — never a full
    // sort of the table.
    val p = plan("t5_limit_offset")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Sort ["), s"no global sort for a bounded page:\n$p")
  }

  test("w7: custom operator plans partial -> exchange -> final") {
    val p = plan("w7_topk_native")
    val idx = p.indexOf("TopKPerGroup")
    assert(idx >= 0)
    assert("TopKPerGroup".r.findAllIn(p).size >= 2)
    assert(p.contains("Exchange"))
  }

  test("j1/j5: no FORCED broadcast of SF-scaling relations (hints only on bounded dims)") {
    // With size-based broadcast disabled, any BroadcastHashJoin left in the
    // plan comes from an explicit broadcast() hint. part/customer/supplier
    // grow with SF — a hint there overrides AQE's size check into a driver
    // OOM at 100 TB — so j1 must fall back to a shuffle join entirely, and
    // j5's only surviving broadcasts must be the two fixed 25-row nation
    // sides. (The sibling j1 test asserts the converse: with thresholds ON,
    // AQE still picks broadcast for the genuinely-small side.)
    val prevBt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val p1 = plan("j1_broadcast_dim")
      assert(!p1.contains("BroadcastHashJoin"),
        s"j1 must not force-broadcast part (grows with SF):\n$p1")
      val p5 = plan("j5_double_dim")
      assert("BroadcastHashJoin".r.findAllIn(p5).size == 2,
        s"j5 may force-broadcast only the two nation dims:\n$p5")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBt)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("j12: range join broadcasts the band table (no fact shuffle)") {
    val p = plan("j12_range_join")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q5: correlated EXISTS/NOT EXISTS rewrite to semi/anti joins") {
    val p = plan("q5_exists_subquery")
    assert(p.contains("LeftSemi"))
    assert(p.contains("LeftAnti"))
  }

  test("s5: date predicate prunes partitions before any IO") {
    val p = plan("s5_partition_pruning")
    assert(p.contains("PartitionFilters: [isnotnull(event_date"),
      s"expected partition filter on event_date:\n$p")
  }

  test("j14: salted join spreads the key over salt sub-partitions") {
    val prevBt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val p = plan("j14_salted_join")
      // build side replicates via a constant-width Generate, and the shuffle
      // partitions on (key, salt) — the hot key lands on SALT reducers.
      assert(p.contains("Generate explode"), s"expected salt replication:\n$p")
      assert(p.contains("hashpartitioning(l_orderkey") && p.contains("salt"),
        s"expected the exchange keyed on (l_orderkey, salt):\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBt)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("s13: fact partitions prune DYNAMICALLY from the joined dim filter") {
    val p = plan("s13_dynamic_pruning")
    assert(p.contains("dynamicpruning"),
      s"expected a dynamicpruning subquery on event_date:\n$p")
  }

  test("dd10: SimHash band search joins on the band key — no cartesian pair space") {
    val p = plan("dd10_simhash_bands")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"dd10 candidates must come from the band equi-join:\n$p")
  }

  test("dd2: band self-join reuses the signature exchange (sig aggregated once)") {
    // At fixture scale the small side broadcasts (no exchange to reuse);
    // force the shuffle join — the plan shape a large corpus gets — and the
    // two identical band-partitioned sides must share ONE signature exchange.
    val prevBt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val p = plan("dd2_minhash_lsh")
      assert(p.contains("ReusedExchange"),
        s"both sides of the band self-join must share one signature exchange:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBt)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("dd11: span dedup candidates come from the span equi-join, no cartesian") {
    val p = plan("dd11_chunk_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sim4: quantization is a pure per-row projection until the final sort") {
    val p = plan("sim4_quantize")
    assert(!p.contains("SortMergeJoin") && !p.contains("HashAggregate"), p)
  }

  test("tx8: PII scrub is a pure per-row projection until the final sort") {
    val p = plan("tx8_pii_scrub")
    // one exchange only: the rangepartitioning for the deterministic output
    // order; no aggregation/join shuffles in a linear scrub
    assert(!p.contains("SortMergeJoin") && !p.contains("HashAggregate"), p)
  }

  test("dd19: per-doc shingle counts broadcast to the candidate verify") {
    // The near-dup verify joins candidate pairs to the two (tiny) per-doc
    // count tables; those must broadcast — shuffling them would add two
    // needless exchanges on every incremental batch.
    val p = plan("dd19_incremental_dedup")
    assert(p.contains("BroadcastHashJoin"), s"counts must broadcast:\n$p")
  }

  test("s16: skew profile aggregates partial+final on the key") {
    // The per-key count must map-side combine — at 100 TB the whole point
    // of the profiler is that it costs one combined exchange, not a raw
    // row shuffle.
    val p = plan("s16_key_skew_profile")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("tx18: sliding chunks are a shuffle-free explode until the final sort") {
    // The chunker is a pure scan -> bounded explode -> projection; the only
    // exchange allowed is the range partitioning for the output order.
    val p = plan("tx18_sliding_chunks")
    assert(p.contains("Generate"), s"expected the sequence explode:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("HashAggregate") &&
      !p.contains("BroadcastHashJoin"), s"chunking must not shuffle or join:\n$p")
  }

  test("dd18: span-merge windows are doc-partitioned, never global") {
    // Island merging must run per document — a global window here would
    // serialize the whole span stream through one partition at scale.
    val qe = SparkEntry.queries("dd18_span_removal")(spark, sfDir).queryExecution
    val phys = qe.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val windows = phys.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"dd18 window must partition by doc_id:\n$phys")
  }

  test("u4: unpivot adds no shuffle beyond its aggregate input") {
    val p = plan("u4_unpivot")
    assert(p.contains("Expand") || p.contains("Generate") || p.contains("Union"),
      s"expected a constant-width expand for the melt:\n$p")
  }

  test("b1: bucketed join has no shuffle exchange and no sort on either side") {
    // Disable auto-broadcast so the join HAS to be a SortMergeJoin — the
    // bucketing (same bucket count + sortBy on the key) must then supply
    // both distribution and order, leaving zero exchanges in the plan.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val (ot, lt) = operators.BucketedOps.writeBucketed(spark, sfDir, 4)
      val joined = operators.BucketedOps.bucketedJoin(spark, ot, lt)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"))
      val joinPart = p.substring(0, p.indexOf("HashAggregate") max p.indexOf("SortMergeJoin"))
      assert(!joinPart.contains("ShuffleExchange") && !joinPart.contains("Exchange hashpartitioning(l_orderkey"),
        s"bucketed join side must not reshuffle:\n$p")
      assert(p.contains("SelectedBucketsCount"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("tx14: the per-doc cumsum window is hash-partitioned, never global") {
    // The two-level prefix sum exists so the doc-side window sorts WITHIN
    // pid partitions; only the tiny per-bucket offset table (one row per
    // 64-doc bucket) may pass through a SinglePartition window.
    val qe = SparkEntry.queries("tx14_sequence_pack")(spark, sfDir).queryExecution
    val phys = qe.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val windows = phys.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    val globalWindows = windows.filter(_.partitionSpec.isEmpty)
    // every global window must sit on the bucket-totals side (input is the
    // aggregated per-pid frame, whose row count is |docs| / 64)
    globalWindows.foreach { w =>
      assert(w.child.toString.contains("psum"),
        s"global window over a non-bucket frame:\n$w")
    }
    assert(windows.exists(_.partitionSpec.nonEmpty),
      "doc-side cumsum must window within pid partitions")
  }

  test("w16: fence deciles plan with no group-wide sort of the fact") {
    // w14's exact NTILE is the single-partition shape; its scale twin
    // computes the nine fences through QuantileRefine (bit-prefix
    // histogram — since r12 the percentile(array) aggregate whose final
    // merge held a full value-count map in one task is gone too), then a
    // 1-row broadcast, per-row band projection, and a 10-row final sort.
    val qe = SparkEntry.queries("w16_decile_fences")(spark, sfDir).queryExecution
    val phys = qe.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    assert(phys.toString.contains("sortable_double_bits"),
      s"fences must come from the bit-prefix histogram:\n$phys")
    assert(!phys.toString.contains("percentile("),
      s"no value-count-map percentile aggregate:\n$phys")
    // the ranks are located and selected inside PercentileAggregate: no
    // window at all, so none over raw fact order
    assert(phys.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"no window may sort the fact:\n$phys")
    // Every global sort must sit above the banded aggregate (a 10-row
    // frame), never between the scan and the band projection.
    phys.collect {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }.foreach { s =>
      assert(s.child.toString.contains("HashAggregate(keys=[decile"),
        s"global sort below the banded aggregate:\n$s")
    }
  }

  test("tx15: the benchmark gram set broadcasts — flagging is scan-local") {
    // The eval set is bounded while the corpus is not; a shuffle join here
    // would re-partition the full training gram stream per run.
    val p = plan("tx15_decontamination")
    assert(p.contains("BroadcastHashJoin"), s"bench side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join on the gram stream:\n$p")
  }

  test("j19: as-of join plans as union + one keyed window — no join operator") {
    // The union+window rewrite exists so the as-of lookup costs ONE
    // exchange on the entity key: no range-join nested loop, no row
    // explosion, and the window must be entity-partitioned, never global.
    val qe = SparkEntry.queries("j19_asof_join")(spark, sfDir).queryExecution
    val phys = qe.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val s = phys.toString
    assert(!s.contains("Join"), s"as-of must not plan a join operator:\n$s")
    val windows = phys.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"as-of window must partition by the entity key:\n$s")
  }

  test("tok1: pair counting is partial+final with a top-k cut, no global sort") {
    val p = plan("tok1_bpe_pair_merges")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"pair counts must combine map-side:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 merges must be a top-k, not a full sort:\n$p")
  }

  test("sa9: the cap window partitions by source — never a global window") {
    val phys = SparkEntry.queries("sa9_domain_cap")(spark, sfDir)
      .queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val windows = phys.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"domain-cap rank must partition by source:\n$phys")
  }

  test("dd20: the doc->source dimension broadcasts onto the pair stream") {
    val p = plan("dd20_source_overlap")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"both source attachments must broadcast:\n$p")
  }

  test("a22: grid binning is scan-local — the only window is over the 1000-bucket histogram") {
    val phys = SparkEntry.queries("a22_grid_quantiles")(spark, sfDir)
      .queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val p = phys.toString
    // the bounds frame and quantile frame attach without shuffling the fact
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"bucket histogram must combine map-side:\n$p")
    val windows = phys.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    // one global cumsum window IS expected — over <= 1000 histogram rows,
    // not over the fact table; assert it sits above an aggregate, i.e.
    // its input is the bucket histogram
    assert(windows.size == 1, s"exactly the cumsum window:\n$p")
    assert(windows.head.child.collectFirst {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }.nonEmpty, s"cumsum must run over the aggregated histogram:\n$p")
  }

  test("j16: SCD-2 dim attaches as a broadcast HASH join, not a nested loop") {
    // The chunk-alignment rewrite exists precisely so the range predicate
    // never becomes a BroadcastNestedLoopJoin against the fact table. The
    // only NLJ allowed in this plan is the 1-row span attach (a cross join
    // with a single-row build side, constant work per row).
    val p = plan("j16_scd2_range_join")
    assert(p.contains("BroadcastHashJoin"))
    val nljs = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nljs <= 1, s"fact-to-dim must not nested-loop:\n$p")
  }

  test("f19: PMI marginals broadcast; no cartesian pair explosion") {
    // The pair expansion must stay a keyed self-join on (user, session)
    // with the type-marginal and session-count dimensions broadcast onto
    // it; the only nested-loop joins allowed are 1-row broadcast attaches
    // (the n_sessions scalar). A CartesianProduct would mean the session
    // key fell out of the join and the expansion went corpus-quadratic.
    val p = plan("f19_session_pmi")
    assert(p.contains("BroadcastHashJoin"), s"marginals must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"pair join lost its key:\n$p")
  }

  test("g2: the modularity total attaches as a 1-row broadcast, never a window") {
    // The per-cluster terms must not pay a global single-partition window
    // for the corpus-wide total: the only nested-loop join allowed is the
    // 1-row q_total attach, and no Window operator belongs in the plan.
    val p = plan("g2_modularity")
    assert(!p.contains("Window"), s"no global window for the total:\n$p")
    val nljs = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(nljs <= 1, s"only the 1-row total attach may nested-loop:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("sa10: cluster split is manifest-join + one partial+final aggregate") {
    // Split assignment is arithmetic over the manifest scan — the only
    // shuffles are the manifest's own join and the final 3-group
    // aggregate, which must show a map-side partial (the distinct-cluster
    // count rides the same Expand+partial pipeline). No window, no sort
    // wider than the 3-row output.
    val p = plan("sa10_cluster_split")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"split aggregate must be partial+final:\n$p")
    assert(!p.contains("Window"), s"no window belongs in this plan:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("f20/ts4/qc_welch: moment aggregates are partial+final, never windowed") {
    // The whole point of the sufficient-statistics formulation is that the
    // five moments merge map-side; a Window or a single HashAggregate pair
    // would mean the exact-sum shape regressed to a sort or a one-pass agg.
    Seq("f20_pearson_corr", "ts4_ols_trend", "qc_welch_ttest").foreach { q =>
      val p = plan(q)
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$q partial+final:\n$p")
      assert(!p.contains("Window"), s"$q must not window:\n$p")
    }
  }

  test("s17/w19/f21: sweep windows are partitioned, never global") {
    // Every window in the compaction planner and the interval sweeps must
    // carry a partition key (source / event_type / user_id) — a global
    // single-partition window would serialize the whole table through one
    // task at scale.
    Seq("s17_compaction_plan" -> "source",
        "w19_max_concurrent" -> "event_type",
        "f21_interval_merge" -> "user_id").foreach { case (q, key) =>
      val p = plan(q)
      assert(p.contains("Window"), s"$q is window-based:\n$p")
      assert(!p.contains("Window [") || !p.contains(s"windowspecdefinition()"),
        s"$q window must be partitioned:\n$p")
      assert(p.contains(key), s"$q partitions by $key:\n$p")
    }
  }

  test("dd22: SNM candidates come from equi joins only — no band/cross join") {
    // The (block, rank+delta) formulation must plan as hash joins; a
    // BroadcastNestedLoopJoin or CartesianProduct means the rank band
    // degenerated to an inequality join.
    val p = plan("dd22_sorted_neighborhood")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"no nested loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("j20: all four dimensions broadcast; only the fact-fact pair shuffles") {
    // TPC-H Q5 shape: customer/supplier/nation/region must all ride
    // broadcast hash joins — a sort-merge join on any of them means a
    // dimension got shuffled at fact scale. lineitem ⋈ orders is the one
    // legitimate exchange pair.
    val p = plan("j20_regional_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      s"four broadcast dims expected:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"revenue agg must be partial+final:\n$p")
  }

  test("sim7: both modality rankings join back broadcast; fusion stays per-query") {
    val p = plan("sim7_rank_fusion")
    assert(p.contains("BroadcastHashJoin"), s"query side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("qc_kanonymity/s19/ts5: governance audits are pure partial+final agg chains") {
    for (q <- Seq("qc_kanonymity", "s19_encoding_plan", "ts5_seasonal_index")) {
      val p = plan(q)
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q aggregates must map-side combine:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q must not shuffle-join:\n$p")
    }
  }

  test("f24: item counts and the basket total attach broadcast; no cartesian pairs") {
    val p = plan("f24_assoc_rules")
    assert(p.contains("BroadcastHashJoin"), s"marginals must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian pair explosion:\n$p")
    // the 1-row basket total rides a broadcast nested loop (cross of 1 row)
    assert(!p.contains("SortMergeJoin") ||
      "SortMergeJoin".r.findAllIn(p).size <= 1,
      s"only the per-user pair join may exchange:\n$p")
  }

  test("t6: skyline windows partition by the spend bucket — data-scale rows never hit a global window") {
    val df = SparkEntry.queries("t6_pareto_skyline")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // the within-bucket suffix-max window must be partitioned
    assert(p.contains("windowspecdefinition(bkt"),
      s"within-bucket window must partition by bkt:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"bucket suffix-max must broadcast:\n$p")
  }

  test("f26/dd23: ER candidates come from equi-join blocking — never a cross join") {
    for (q <- Seq("f26_jaro_winkler", "dd23_er_score")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$q pairs must be equi-blocked:\n$p")
      assert(p.toLowerCase.contains("jarowinklersimilarity"),
        s"$q must run the native expression:\n$p")
    }
  }

  test("sa12: bootstrap replicates aggregate partial+final, no window, no cartesian") {
    val p = plan("sa12_bootstrap_ci")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"replicate sums must map-side combine:\n$p")
    assert(!p.contains("Window"), s"no window in the bootstrap:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("g4: assortativity is one mergeable global agg over the shared adjacency") {
    // the cached adjacency's stored lineage (below InMemoryTableScan)
    // legitimately contains the pair-generation windows; audit only the
    // fresh part of the plan above the cache boundary.
    val p = plan("g4_assortativity").split("InMemoryTableScan").head
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"moment sums must map-side combine:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
  }

  test("s21/emb3: sampling filters reach the scans; the centroid pass never joins pairs") {
    val ps = plan("s21_join_card_sample")
    assert(!ps.contains("CartesianProduct"), ps)
    val pe = plan("emb3_label_separation")
    assert(!pe.contains("CartesianProduct") && !pe.contains("Window"),
      s"centroid identity must stay linear:\n$pe")
    assert(pe.contains("BroadcastHashJoin") || pe.contains("BroadcastNestedLoop"),
      s"dimension totals must broadcast:\n$pe")
  }

  test("a25: bitmap distinct is two partial+final aggs — no expand, no distinct state") {
    val p = plan("a25_bitmap_distinct")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"word build + popcount sum must both map-side combine:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("u12: the SCD2 build is ONE partitioned window pass, no joins") {
    val p = plan("u12_scd2_build")
    assert(p.contains("windowspecdefinition(user_id"),
      s"versions must stamp per key:\n$p")
    assert(!p.contains("Join"), s"a changelog build needs no join:\n$p")
  }

  test("tx22/f27: readability is agg-only; transitions LAG over per-user partitions") {
    val pr = plan("tx22_readability")
    assert("HashAggregate".r.findAllIn(pr).size >= 2, pr)
    assert(!pr.contains("Window") && !pr.contains("Join"), pr)
    val pm = plan("f27_markov_transitions")
    assert(pm.contains("windowspecdefinition(user_id"),
      s"LAG must partition by user:\n$pm")
    assert(pm.contains("BroadcastHashJoin"), s"marginal must broadcast:\n$pm")
  }

  test("tok3: the corpus feeds one partial agg; only the vocab frame is windowed") {
    val p = plan("tok3_vocab_coverage")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"gram counting must map-side combine:\n$p")
    // the global cumulative window runs AFTER the vocab aggregation —
    // its input is the dimension-sized vocab, never raw gram rows
    val windowIdx = p.indexOf("Window")
    val aggIdx = p.lastIndexOf("HashAggregate")
    assert(windowIdx >= 0 && windowIdx < aggIdx,
      s"window must sit above the vocab aggregation:\n$p")
  }

  test("sim9: MIPS queries broadcast onto the corpus scan; top-k window partitions by query") {
    val p = plan("sim9_mips_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query set must broadcast:\n$p")
    // with GraftExtensions installed the row_number window rewrites to the
    // native TopKPerGroup operator — both forms partition by query
    assert(p.contains("windowspecdefinition(query_id") ||
      p.contains("TopKPerGroup") || p.contains("WindowGroupLimit [query_id"),
      s"top-k must partition by query:\n$p")
  }

  test("qc_fd/ts6: FD audit is agg-only; CUSUM windows partition by priority") {
    val pf = plan("qc_fd_violations")
    assert(!pf.contains("Join") && !pf.contains("Window"),
      s"FD audit must be pure aggregation:\n$pf")
    val pt = plan("ts6_cusum_changepoint")
    assert(pt.contains("windowspecdefinition(prio"),
      s"CUSUM windows must partition by priority:\n$pt")
  }

  test("s20: run counting windows partition by month — never a global order") {
    val p = plan("s20_rle_probe")
    assert(p.contains("windowspecdefinition(mon"),
      s"runs must be counted per month partition:\n$p")
  }

  test("u11: delta-dim terms broadcast the changed rows; no cartesian") {
    val p = plan("u11_join_view_delta")
    assert(p.contains("BroadcastHashJoin"), s"delta sides must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sa13: stratum stats attach broadcast; aggs are partial+final; no window") {
    val p = plan("sa13_reweight_ess")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("BroadcastHashJoin"), s"per-lang frame must broadcast:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("emb2: the PQ codebook broadcasts onto the coordinate stream") {
    val p = plan("emb2_pq_assign")
    assert(p.contains("BroadcastHashJoin"), s"codebook must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("f25: the bitmap build is one partial+final bit_or agg, no window, no join") {
    val p = plan("f25_hour_bitmap")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"bit_or partials must merge map-side:\n$p")
    assert(!p.contains("Window"), s"no window in a bitmap build:\n$p")
    assert(!p.contains("Join"), s"no join in a bitmap build:\n$p")
  }

  test("ir1: BM25 stats attach as a 1-row broadcast; the cut is top-k, no window") {
    val p = plan("ir1_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-20 cut must be TakeOrderedAndProject, not a global sort:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"corpus stats must broadcast, never shuffle the corpus:\n$p")
    assert(!p.contains("Window"), s"no window in document-at-a-time scoring:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join against a 1-row stats frame:\n$p")
  }

  test("s22: every run-count window is PARTITIONED — no single-partition global sort") {
    val p = plan("s22_sort_advisor")
    // WindowExec on an empty partition spec prints 'Window [...], []' —
    // its presence means the advisor regressed to the w14 scale-killer.
    assert(!"Window [^\\n]*, \\[\\]".r.findFirstIn(p).isDefined,
      s"all s22 windows must partition by the candidate key:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"run sums must partial-aggregate:\n$p")
  }

  test("a26: weighted median is the two-pass bit-prefix histogram — no " +
    "group-wide sort, no corpus-sized cache") {
    val p = plan("a26_weighted_median")
    assert(p.contains("sortable_double_bits"),
      s"pass 1 must bucket by sortable-bits prefix:\n$p")
    assert(p.contains("PercentileAggregate"),
      s"ranks must be located and selected by PercentileAggregate:\n$p")
    // nothing is cached at all: the r11 interim form's corpus-sized
    // distinct-value cache stays banned, and the engine needs no state cache
    assert(!p.contains("InMemoryRelation"), s"no persisted table:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("mm5: hash clusters and flip probes are equi shapes — no cartesian anywhere") {
    val p = plan("mm5_phash_dedup")
    assert(!p.contains("CartesianProduct"),
      s"hamming-1 pairing must be the probe equi-join, never all-pairs:\n$p")
    assert(p.contains("HashAggregate"), p)
    // Round 10: the per-doc total folds into the single pivot-style
    // hash-agg — no doc-partitioned window may reappear between the
    // block sums and the bit assembly.
    assert(!p.contains("Window"),
      s"ahash must assemble in a post-agg projection, not a window:\n$p")
  }

  test("sim3: seeded-quantizer IVF — assignment is a broadcast projection, " +
    "cells join broadcast, no shuffle before the cell join") {
    val p = plan("sim3_ivf_ann")
    // the 1-row codebook and the probe list attach as broadcasts; the
    // only distributed joins are the cell-key candidate join and the
    // vector fetch — never a cartesian over the corpus.
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"codebook must broadcast:\n$p")
    // k-means is gone: no MLlib iteration artifacts (the plan is pure SQL
    // operators), and the argmin runs inside a projection.
    assert(!p.contains("SortMergeJoin"),
      s"cell join must stay broadcast at this scale:\n$p")
  }

  test("emb4: moments broadcast back onto the coordinate stream") {
    val p = plan("emb4_standardize")
    assert(p.contains("BroadcastHashJoin"),
      s"the 64-row moments frame must broadcast, not shuffle the stream:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("f28: touch pairing is a per-user equi join, never a cartesian") {
    val p = plan("f28_attribution")
    assert(!p.contains("CartesianProduct"),
      s"the 24h window must ride the user_id equi join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("u13: the MERGE applies as one join on the merge key") {
    val p = plan("u13_merge_apply")
    assert(p.contains("FullOuter"), s"MERGE lowers to a full-outer join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("qc_expectation_suite: one conditional-agg pass + a semi join, no windows") {
    val p = plan("qc_expectation_suite")
    assert(p.contains("LeftSemi"), s"referential rule is a semi join:\n$p")
    assert(!p.contains("Window"), s"no window in a validation pass:\n$p")
  }

  test("emb5: rankings ride the native top-k over the checkpointed pair stage") {
    val p = plan("emb5_matryoshka_eval")
    // Each ranking is the heap-based TopKPerGroup (partial per partition +
    // final after the src exchange — like w7), NOT a full per-src window
    // sort of the all-pairs table; and the pair stage itself arrives as a
    // lineage-severed checkpoint scan, not a re-derived cross join (the
    // nested-lineage AQE replanning cost — see GraphOps.adjacency).
    assert("TopKPerGroup".r.findAllIn(p).size >= 8,
      s"4 rankings x partial+final native top-k:\n$p")
    assert(!p.contains("Window"), s"no window sort per ranking:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"the pair stage must come from the localCheckpoint:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin BuildRight, Cross, (ida"),
      s"no re-derivation of the all-pairs stage:\n$p")
  }

  test("w12: both medians run the two-pass bit-prefix histogram; only the " +
    "3-row median frames are cached; no sort-collect percentile anywhere") {
    val p = plan("w12_robust_mad")
    assert("sortable_double_bits".r.findAllIn(p).size >= 2,
      s"median AND MAD must bucket by sortable-bits prefix:\n$p")
    assert("PercentileAggregate".r.findAllIn(p).size >= 2,
      s"median AND MAD must be located by PercentileAggregate:\n$p")
    // the ONLY caches are the per-group (3-row) median/MAD frames — the
    // r11 interim form's corpus-sized distinct-value count table is gone
    assert(p.contains("InMemoryTableScan"),
      s"med/mad frames must be shared materializations:\n$p")
    assert(!p.contains("percentile_disc"), s"sort-collect percentile:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("a18: ordered-set aggregates ride one count table + the histogram " +
    "refinement — no percentile sort-agg, mode is a hash argmax") {
    val p = plan("a18_ordered_set")
    assert(p.contains("sortable_double_bits"),
      s"quantile batch must bucket by sortable-bits prefix:\n$p")
    assert(!p.contains("percentile_disc") && !p.contains("percentile_cont"),
      s"no sort-collect percentile aggregate:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"the (flag, qty) count table is the shared input:\n$p")
    assert(!p.contains("row_number"),
      s"mode must be a struct-argmax hash-agg, not a ranking window:\n$p")
  }

  test("TLC percentile surface: no builtin Percentile aggregate in any " +
    "DataFrame fact-path plan (r13 verdict item 1)") {
    // Spark's exact `percentile` is a TypedImperativeAggregate whose final
    // merge holds a per-group value-count map in ONE task — with q05's 3
    // service groups or q04's 2 companies over near-unique double fares,
    // that buffer grows linearly with the corpus. Every TLC DataFrame
    // pipeline and agg-table builder must route through PercentileCont
    // (QuantileRefine) instead. r15 (r14 verdict item 3): the tlc_sql_*
    // twins lost their EXEMPT carve-out — RewritePercentileAgg now rewrites
    // the user's PERCENTILE_CONT SQL onto the same reconstruction at
    // optimization time, so the SQL entry point carries the same scale
    // posture as the DataFrame one (the SQL text itself stays unchanged,
    // which is what the twins exist to prove).
    val gates = Seq(
      "tlc_pipeline_q04", "tlc_pipeline_q05", "tlc_pipeline_q11",
      "tlc_pipeline_q12", "tlc_pipeline_q13", "tlc_pipeline_q14",
      "tlc_agg_congestion", "tlc_agg_pricing", "a2_percentiles",
      "tlc_sql_q04", "tlc_sql_q05", "tlc_sql_q11",
      "tlc_sql_q12", "tlc_sql_q13", "tlc_sql_q14")
    // q12/q14 eagerly checkpoint their bounded frames while they are
    // built, which truncates the percentile lineage out of the query's own
    // plan; each checkpoint is an execution of its own, so auditing every
    // execution keeps the full lineage in view.
    for (q <- gates) {
      val plans = executedPlans {
        SparkEntry.queries(q)(spark, sfDir).collect()
      }
      graft.CacheScope.drain(blocking = true)
      plans.foreach(p => assert(!p.contains("percentile("),
        s"$q still plans the single-task value-map percentile:\n$p"))
      assert(plans.exists(_.contains("sortable_double_bits")),
        s"$q must route percentiles through QuantileRefine's histogram:\n" +
          plans.mkString("\n"))
    }
    // the multi-column batches: the stacked unpivot feeds every column's
    // rows to pass 1, so its bucket projection must sit under a partial
    // hash aggregate below the pass-1 exchange — the shuffle then moves
    // bucket rows, never corpus rows
    for (q <- Seq("tlc_agg_pricing", "tlc_agg_congestion", "tlc_pipeline_q11")) {
      val p = SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan
      val feeds = PlanAuditSpec.pass1Feeds(p)
      assert(feeds.nonEmpty && feeds.forall(PlanAuditSpec.isPartialAgg),
        s"$q (multi-column percentile batch) must combine pass 1 map-side:\n$p")
    }
    // the two agg-table builders not (yet) wired as their own gates
    val fixture = TlcScaledDemo.tables(spark)
    for ((name, df) <- Seq(
        "agg_hvfhv_take_rates" -> graft.tlc.Aggregations.hvfhvTakeRates(fixture.fact),
        "agg_daily_summary" -> graft.tlc.Aggregations.dailySummary(fixture.fact))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("percentile("),
        s"$name still plans the single-task value-map percentile:\n$p")
    }
  }

  test("no user-forced broadcast on a per-row-scaled input — AQE owns " +
    "those joins (r11 verdict item 3)") {
    // Size-classed sweep: every broadcast() hint in src/main must be on
    // bounded state (1-row totals, dimension tables, codebooks, candidate-
    // bounded semi-joined sets — dd24 documents its bound inline). The
    // classes de-hinted in r12 — per-vector label tables, per-document
    // shingle counts/arrays/sources/fingerprints, per-shingle df — must
    // not regrow a hint. Checked two ways: a source tripwire on the exact
    // frame names, and hint-free analyzed plans for the touched gates.
    val srcRoot = java.nio.file.Paths.get("src/main/scala")
    val it = java.nio.file.Files.walk(srcRoot).iterator()
    val offenders = Iterator.continually(it)
      .takeWhile(_.hasNext).map(_.next())
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val flat = new String(java.nio.file.Files.readAllBytes(p))
          .replaceAll("\\s+", " ")
        val hit = ("broadcast\\((labels|arrs|dfreq|firstFp)\\b".r
          .findFirstIn(flat)).orElse(
          "broadcast\\((counts|src)\\.select\\(col\\(\"doc_id\"".r
            .findFirstIn(flat))
        hit.map(h => s"$p: $h")
      }.toList
    assert(offenders.isEmpty,
      s"forced broadcast on per-row-scaled frames:\n${offenders.mkString("\n")}")
    for (q <- Seq("sim13_label_spread", "sim10_knn_graph",
      "dd20_source_overlap", "dd21_dedup_funnel", "dd17_prefix_containment")) {
      val lp = SparkEntry.queries(q)(spark, sfDir).queryExecution.analyzed.toString
      assert(!lp.contains("ResolvedHint"), s"$q still carries a join hint:\n$lp")
    }
    // g8 keeps exactly ONE hint: the 1-row total-volume frame
    val g8 = SparkEntry.queries("g8_conductance")(spark, sfDir)
      .queryExecution.analyzed.toString
    assert("ResolvedHint".r.findAllIn(g8).size == 1,
      s"g8 must hint only the 1-row totals:\n$g8")
  }

  test("sa19: the corpus collapses to strata before any window — the rank/" +
    "cumsum machinery only ever sees the checkpointed dimension table") {
    val p = plan("sa19_unimax")
    assert(!p.contains("FileScan"),
      s"sa19 downstream stages must not re-scan documents:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"strata must arrive as a checkpoint scan:\n$p")
    assert(p.contains("Window"), s"rank/cumsum window expected:\n$p")
  }

  test("a28: fences attach as a broadcast join and the kept-set rollup is a " +
    "partial+final hash-agg — no window, no sort over the fact") {
    val p = plan("a28_trimmed_mean")
    assert(p.contains("BroadcastHashJoin"),
      s"the 3-row fence frame must broadcast:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"trimmed rollup must map-side combine:\n$p")
    // the only sort in this plan is the final ≤3-row output ORDER BY; the
    // kept-set path itself must stay window-free (QuantileRefine's bucket
    // windows live in the fence subtree, behind the broadcast)
    assert(!p.contains("RunningWindowFunction"),
      s"no fact-wide window in the kept-set rollup:\n$p")
  }

  test("sa21: the reservoir runs the native heap TopKPerGroup — no window " +
    "rank, no global sort of the corpus") {
    val p = plan("sa21_hash_reservoir")
    assert(p.contains("TopKPerGroup"),
      s"expected the native top-k operator:\n$p")
    assert(!p.contains("RunningWindowFunction") && !p.contains("row_number"),
      s"reservoir must not fall back to a window rank:\n$p")
  }

  test("ordered-set builtins are fully retired: the seven r13-rewired gates " +
    "carry no Percentile/PercentileDisc aggregate in their analyzed plans " +
    "(percentile_approx is allowed only as a13's audited sketch)") {
    val rewired = Seq("qc_outlier_iqr", "w13_winsorize", "a13_exact_stats",
      "a13_approx_sketches", "q2_scalar_subquery", "ts7_theil_sen",
      "w18_rolling_median")
    rewired.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.analyzed.toString
      // builtin exact forms print as percentile(...) / percentile_disc(...)
      // / percentile_cont(...); the approx sketch prints percentile_approx
      val banned = "percentile(" :: "percentile_disc(" :: "percentile_cont(" :: Nil
      banned.foreach(tok => assert(!plan.contains(tok),
        s"$name still uses the builtin ordered-set aggregate $tok:\n$plan"))
      if (name.startsWith("a13_approx"))
        assert(plan.contains("percentile_approx"),
          s"$name must keep the audited percentile_approx sketch:\n$plan")
    }
    graft.CacheScope.drain(blocking = true)
  }

  test("q14: the calendar-bounded dailyZone/withShare frames are " +
    "materialized once, not once per consumer — eagerly checkpointed") {
    // every consumer reads the checkpointed RDD scan
    val p = plan("tlc_pipeline_q14")
    assert(p.contains("Scan ExistingRDD"),
      s"q14's bounded aggregates must be eagerly checkpointed:\n$p")
    graft.CacheScope.drain(blocking = true)
  }
}

object PlanAuditSpec {

  /** Every operator of `p` as planned, descending into cached-relation
    * plans. An adaptive plan is read as AQE's initial plan: once it has
    * run, AQE may have pruned a stage whose input was empty. */
  def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.initialPlan)
    case m: InMemoryTableScanExec => m +: operators(m.relation.cachedPlan)
    case _ => p +: p.children.flatMap(operators)
  }

  /** The operators of the map-side stage rooted at `p`: down to the next
    * shuffle or cached relation. */
  private def stage(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: ShuffleExchangeLike | _: InMemoryTableScanExec => Nil
    case _ => p +: p.children.flatMap(stage)
  }

  /** The operator feeding each shuffle whose map-side stage computes a
    * `sortable_double_bits` bucket: QuantileRefine's pass-1 exchanges. */
  def pass1Feeds(p: SparkPlan): Seq[SparkPlan] =
    operators(p).collect { case e: ShuffleExchangeLike => e.child }
      .filter(stage(_).exists(_.expressions.exists(
        _.exists(_.isInstanceOf[SortableDoubleBits]))))

  def isPartialAgg(p: SparkPlan): Boolean = p match {
    case h: HashAggregateExec =>
      h.groupingExpressions.nonEmpty && h.aggregateExpressions.forall(_.mode == Partial)
    case _ => false
  }
}
