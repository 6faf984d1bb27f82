package graft.tlc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, lit, max}

/** Per-file load-audit sink (reference: src/database/loader.py:264–333 and
  * sql/ddl/01_raw_tables.sql:110–130 `ingestion_log`): every raw-file load
  * appends one row recording what was loaded, how long it took, its
  * checksum and whether it succeeded — the table every operational user of
  * the pipeline reads first when a load looks wrong.
  *
  * The reference INSERTs into a DuckDB table with a sequence-derived id;
  * here the sink is an append-only parquet log. Entries are driver-side
  * metadata (a handful of rows per batch), so building the frame from a
  * local Seq is correct at any scale — the DATA never passes through it.
  */
object IngestionLog {

  final case class Entry(
    sequenceId: Long,
    sourceFile: String,
    serviceType: String,
    rowCount: Long,
    durationSeconds: Double,
    status: String, // completed | failed | skipped (loader.py:280,307,329)
    errorMessage: Option[String],
    fileSha256: String,
    loadedAt: java.sql.Timestamp)

  /** Entries → the ingestion_log frame (column names follow
    * 01_raw_tables.sql:110–130). */
  def build(spark: SparkSession, entries: Seq[Entry]): DataFrame = {
    import spark.implicits._
    entries.toDF()
      .select(
        $"sequenceId".as("load_sequence_id"),
        $"sourceFile".as("source_file"),
        $"serviceType".as("service_type"),
        $"rowCount".as("row_count"),
        $"durationSeconds".as("load_duration_seconds"),
        $"status",
        $"errorMessage".as("error_message"),
        $"fileSha256".as("file_sha256"),
        $"loadedAt".as("loaded_at"))
  }

  /** Append-only audit write — the log is history, never overwritten. */
  def write(log: DataFrame, path: String): Unit =
    log.write.mode("append").parquet(path)

  /** The highest `load_sequence_id` in the log at `path`, where the next
    * append continues. 0 when there is no log yet: the path is missing or
    * holds no data files (only entries Spark's reader hides, such as
    * `_SUCCESS` or `_temporary`). max, not count(): a log with gaps or a
    * partially-written append would otherwise mint duplicate sequence ids.
    * A log that exists but cannot be read fails loudly rather than
    * restarting the sequence at 1, which would mint them too. */
  def lastSequenceId(spark: SparkSession, path: String): Long = {
    val log = new Path(path)
    val fs = log.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(log) && fs.listStatus(log).exists { st =>
      val name = st.getPath.getName
      !name.startsWith("_") && !name.startsWith(".")
    }
    if (!hasData) 0L
    else spark.read.parquet(path)
      .agg(coalesce(max("load_sequence_id"), lit(0L))).first().getLong(0)
  }
}
