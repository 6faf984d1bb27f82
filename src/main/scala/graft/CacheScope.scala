package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Registry for QUERY-LOCAL `persist()` calls, so the benchmark harness can
  * evict them between timed repeats.
  *
  * Why (ADVICE r11): Spark's CacheManager dedups cache entries by logical
  * plan, so a persisted frame built fresh inside a query function is still
  * served from the PREVIOUS run's warm InMemoryRelation on every timed
  * repeat — the committed sample then excludes the scan+agg work the DuckDB
  * comparable re-executes every run. Frames whose lifetime is one query
  * execution therefore persist through [[persistScoped]], and Bench calls
  * [[drain]] between timed runs so each sample pays the full plan cost.
  *
  * Memoized CROSS-query state (Tables' opt-in base-table cache, the staged
  * dedup/graph pipeline caches, trained-model stages) must NOT go through
  * here — being warm across queries is their declared contract.
  */
object CacheScope {
  /** `unpersist(blocking)` of every registered frame or checkpoint. */
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[Boolean => Unit]()

  /** `df.persist()` + register for [[drain]]. LAZY by design: an r15
    * experiment made this eager (persist + count()) to close the
    * concurrent-stage race on a cold cache, and it measured ~2× WORSE on
    * every persistScoped consumer (tlc_agg_pricing 2.8 → 7.6 s at 32c) —
    * the forcing count() executes the frame's full lineage as a separate
    * query with no AQE stage reuse against the main query, so the "saved"
    * duplicate work is paid twice up front instead. Spark 4's AQE plans
    * cached relations as TableCacheQueryStages inside the consuming query
    * and reuses them across consumers, which is strictly better than a
    * manual barrier. */
  def persistScoped(df: DataFrame): DataFrame = {
    val p = df.persist()
    live.add(b => p.unpersist(b))
    p
  }

  /** `df.localCheckpoint()` (eager) + register the checkpoint's RDD blocks
    * for [[drain]]. Only for frames whose readers all run before the next
    * drain: a drained local checkpoint cannot be read again. */
  def checkpointScoped(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint()
    c.queryExecution.logical.foreach {
      case r: LogicalRDD => live.add(b => r.rdd.unpersist(b))
      case _ =>
    }
    c
  }

  /** Unpersist every scoped frame and checkpoint. Removing the CacheManager
    * entry makes the next structurally-identical plan recompute instead of
    * plan-dedup-reusing the warm buffers. No-op when nothing is registered.
    *
    * `blocking = true` in the Bench path (ADVICE r12): a non-blocking
    * eviction from the previous repeat can still be running when the next
    * timed window opens, adding executor contention to the very samples the
    * drain exists to make honest. Verify keeps the non-blocking default —
    * there only memory bounding matters, not timing. */
  def drain(blocking: Boolean = false): Unit = {
    var d = live.poll()
    while (d != null) {
      d(blocking)
      d = live.poll()
    }
  }
}
