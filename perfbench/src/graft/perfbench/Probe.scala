package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** A named wall-clock interval, in epoch milliseconds (the clock Spark's
  * listener events carry). `top` spans partition a traced pass into layers;
  * the others break a layer down and are not summed into the wall time. */
final case class Span(name: String, start: Long, end: Long, top: Boolean) {
  def seconds: Double = (end - start) / 1000.0
  def covers(t: Long): Boolean = t >= start && t <= end
}

/** Peak bytes of cached and checkpointed RDD blocks, from block-update
  * events. Always registered: it is the only listener of an untraced run. */
final class CacheWatch extends SparkListener {
  private val sizes = mutable.HashMap.empty[(String, String), Long]
  private var current = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = (info.blockManagerId.executorId, info.blockId.name)
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      current += size - sizes.getOrElse(key, 0L)
      if (size == 0L) sizes.remove(key) else sizes(key) = size
      peak = math.max(peak, current)
    }
  }

  def peakBytes: Long = synchronized(peak)
}

/** Traced-run listener: job starts, finished-task metrics and the end time
  * plus output path of every file-writing SQL execution. Events are kept in
  * memory and attributed to spans by timestamp after the run. */
final class Probe extends SparkListener {
  final case class Task(finish: Long, runMs: Long, inputB: Long, outputB: Long,
                        shuffleB: Long, spillB: Long, schedMs: Long)

  val jobStarts = mutable.ArrayBuffer.empty[Long]
  val tasks = mutable.ArrayBuffer.empty[Task]
  /** (end time, output path) of each write execution. */
  val writes = mutable.ArrayBuffer.empty[(Long, String)]
  private val openWrites = mutable.HashMap.empty[Long, String]
  // the formatted plan's node details: "(n) Execute InsertIntoHadoopFs...
  // \n Input ... \n Arguments: file:/path, ..."
  private val WritePath =
    """\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n(?:.*\n)*?Arguments: (?:file:)?([^,\s]+)""".r

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStarts += e.time }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      val info = e.taskInfo
      val sched = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      tasks += Task(info.finishTime, m.executorRunTime, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, math.max(0L, sched))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      WritePath.findFirstMatchIn(s.physicalPlanDescription)
        .foreach(m => synchronized { openWrites(s.executionId) = m.group(1) })
    case x: SparkListenerSQLExecutionEnd =>
      synchronized { openWrites.remove(x.executionId).foreach(p => writes += ((x.time, p))) }
    case _ =>
  }

  /** Figures of the events inside any of `spans`. */
  def stats(spans: Seq[Span]): Map[String, Double] = synchronized {
    def in(t: Long) = spans.exists(_.covers(t))
    val ts = tasks.filter(t => in(t.finish))
    val mb = 1024.0 * 1024.0
    Map(
      "s" -> spans.map(_.seconds).sum,
      "jobs" -> jobStarts.count(in).toDouble,
      "tasks" -> ts.size.toDouble,
      "task_s" -> ts.map(_.runMs).sum / 1000.0,
      "input_mb" -> ts.map(_.inputB).sum / mb,
      "output_mb" -> ts.map(_.outputB).sum / mb,
      "shuffle_mb" -> ts.map(_.shuffleB).sum / mb,
      "spill_mb" -> ts.map(_.spillB).sum / mb,
      "sched_delay_s" -> ts.map(_.schedMs).sum / 1000.0)
  }

  /** Split `parent` at the end of each write whose path's last component
    * (or last two, for `analytics/<query>`) satisfies `label`: the i-th
    * child runs from the previous write's end to its own, so it covers the
    * table's plan building and any eager checkpoints as well as the write. */
  def splitByWrites(parent: Span, label: String => Option[String]): Seq[Span] = synchronized {
    val ends = writes.filter(w => parent.covers(w._1))
      .flatMap { case (t, p) => label(p).map(t -> _) }
      .sortBy(_._1)
    var prev = parent.start
    ends.map { case (t, name) =>
      val s = Span(name, prev, t, top = false)
      prev = t
      s
    }.toSeq
  }
}

/** Captures `Cli`'s `[timing] stage=<name> seconds=<s>` stderr lines as
  * spans ending when the line arrives, while passing all output through. */
final class TimingTap(underlying: java.io.PrintStream)
    extends java.io.PrintStream(new java.io.OutputStream {
      override def write(b: Int): Unit = underlying.write(b)
    }, true) {
  val stages = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val Line = """\[timing\] stage=(\S+) seconds=([0-9.,]+)""".r.unanchored

  override def println(x: String): Unit = {
    x match {
      case Line(stage, secs) =>
        val end = System.currentTimeMillis()
        val ms = (secs.replace(',', '.').toDouble * 1000).round
        synchronized { stages += ((stage, end - ms, end)) }
      case _ =>
    }
    underlying.println(x)
  }
}
