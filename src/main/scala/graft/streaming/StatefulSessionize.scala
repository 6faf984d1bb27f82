package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom stateful streaming: per-user sessionization with
  * `flatMapGroupsWithState` (SURVEY.md §2.11 — the reference only sketches
  * streaming; this implements the stateful path the build brief names).
  *
  * Each user's open session lives in group state across micro-batches; a
  * batch's events close every session whose gap to the next event exceeds
  * GAP (emitting it downstream) and leave the trailing session open in
  * state. Gap semantics match the batch sessionizer (`w6_sessionize`):
  * strictly-greater-than-gap starts a new session.
  */
object StatefulSessionize extends graft.QueryFamily {

  final case class Event(user_id: Long, us: Long)
  final case class OpenSession(startUs: Long, lastUs: Long, n: Long)
  final case class ClosedSession(
    user_id: Long, start_us: Long, n_events: Long, duration_seconds: Long)

  val GAP_US: Long = 30L * 60L * 1000000L

  /** State-transition function: fold the batch's events (sorted by time)
    * into the open session, emitting every session that closes. */
  def update(userId: Long, events: Iterator[Event],
             state: GroupState[OpenSession]): Iterator[ClosedSession] = {
    val sorted = events.toSeq.sortBy(_.us)
    if (sorted.isEmpty) return Iterator.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
    var cur = state.getOption
    sorted.foreach { e =>
      cur match {
        case Some(s) if e.us - s.lastUs <= GAP_US =>
          cur = Some(s.copy(lastUs = e.us, n = s.n + 1))
        case Some(s) =>
          out += ClosedSession(userId, s.startUs, s.n, (s.lastUs - s.startUs) / 1000000L)
          cur = Some(OpenSession(e.us, e.us, 1))
        case None =>
          cur = Some(OpenSession(e.us, e.us, 1))
      }
    }
    state.update(cur.get)
    out.iterator
  }

  private val runId = new AtomicInteger(0)

  /** Staged source dir + schema, memoized per dataset (input staging, not
    * stream work — same contract as StreamingOps.stagedCache). */
  private val stagedCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (String, org.apache.spark.sql.types.StructType)]()

  /** Drive the stateful query over the events table (file-stream source,
    * memory sink, drained synchronously). Returns closed sessions; each
    * user's trailing session remains open in state by design. */
  def run(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val (dir, schema) = stagedCache.computeIfAbsent(sfDir, { _ =>
      val path = s"$sfDir/events.parquet"
      val dd = java.nio.file.Files.createTempDirectory("graft_stateful_")
      java.nio.file.Files.createSymbolicLink(
        dd.resolve("events.parquet"), java.nio.file.Paths.get(path))
      (dd.toString, spark.read.parquet(path).schema)
    })
    val events = graft.Tables
      .normalizeTs(spark.readStream.schema(schema).parquet(dir.toString), "ts")
      .select(col("user_id"), expr("unix_micros(ts)").as("us"))
      .as[Event]
    val sessions = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
    val name = s"st3_out_${runId.incrementAndGet()}"
    StreamingOps.withStatePartitions(spark) {
      val q = sessions.writeStream
        .outputMode("append").format("memory").queryName(name).start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
  }

  /** Gate query: per-user closed-session rollup. */
  val queries: Map[String, Q] = Map(
    "st3_stateful_sessions" -> { (s, d) =>
      run(s, d)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_closed_sessions"),
          sum(col("n_events")).as("n_events_closed"))
        .orderBy("user_id")
    })

  /** Once the source is drained, the emitted set is exactly "every session
    * except each user's trailing one" (which stays open in state by
    * design) — a gaps-and-islands computation with the max session id
    * excluded per user, so the stateful path IS oracle-checkable. Users
    * whose only session is still open emit nothing and are absent. */
  val oracles: Map[String, String] = Map(
    "st3_stateful_sessions" ->
      """WITH g AS (
           SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                  LAG(epoch_us(CAST(ts AS TIMESTAMP)))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         flagged AS (
           SELECT user_id, us,
                  CASE WHEN prev IS NULL OR us - prev > 1800000000
                       THEN 1 ELSE 0 END AS is_new
           FROM g),
         numbered AS (
           SELECT user_id, us,
                  SUM(is_new) OVER (PARTITION BY user_id ORDER BY us
                                    ROWS UNBOUNDED PRECEDING) AS sid
           FROM flagged),
         sessions AS (
           SELECT user_id, sid, COUNT(*) AS n_events
           FROM numbered GROUP BY 1, 2),
         closed AS (
           SELECT * FROM sessions s
           WHERE sid < (SELECT MAX(sid) FROM sessions m
                        WHERE m.user_id = s.user_id))
         SELECT user_id, COUNT(*) AS n_closed_sessions,
                CAST(SUM(n_events) AS BIGINT) AS n_events_closed
         FROM closed GROUP BY 1 ORDER BY 1""")
}
