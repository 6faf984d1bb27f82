package graft.tlc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructType}

/** Schema-drift-tolerant raw loader (reference: src/database/loader.py,
  * src/database/schema_drift.py, src/ingestion/validators.py).
  *
  * The reference mutates DuckDB tables (`ALTER TABLE ADD COLUMN`,
  * schema_drift.py:148–160). Parquet sinks are append-only, so drift is
  * handled AT READ instead (SURVEY.md §7.4 risk 7): new source columns are
  * reported (and optionally kept), missing expected columns are null-filled,
  * INTEGER↔DOUBLE type changes are tolerated by casting to the expected type
  * (schema_drift.py:103–107); other type changes are flagged for manual
  * intervention exactly like the reference (schema_drift.py:163–168).
  *
  * Idempotency: the reference skips files whose name is already in
  * `source_file` via NOT IN (loader.py:147–165). A frame from [[load]]
  * carries ONE constant source_file, so a file is either wholly loaded or
  * wholly new: [[loadedFiles]] brings the sink's distinct source_file set to
  * the driver and the caller leaves a loaded file out whole (S6's
  * path-level manifest check; the Cli's fold does this), instead of
  * anti-joining every row against the sink.
  */
object RawLoader {

  final case class DriftReport(
    newColumns: Seq[String],
    missingColumns: Seq[String],
    typeChanges: Seq[(String, String, String)]) { // (col, expected, actual)
    def hasDrift: Boolean =
      newColumns.nonEmpty || missingColumns.nonEmpty || typeChanges.nonEmpty
    /** Type changes other than the tolerated families: any numeric↔numeric
      * (the reference's INTEGER↔DOUBLE rule, schema_drift.py:103–107,
      * widened to DECIMAL — TLC parquet vintages carry money as either) and
      * timestamp↔timestamp_ntz (parquet writers disagree on the isAdjustedToUTC
      * flag; the session is pinned to UTC so the instant is identical). */
    def incompatible: Seq[(String, String, String)] = typeChanges.filterNot {
      case (_, e, a) =>
        def numeric(t: String) =
          Set("IntegerType", "LongType", "DoubleType", "FloatType",
            "ShortType", "ByteType")(t) || t.startsWith("DecimalType")
        def timestampish(t: String) =
          t == "TimestampType" || t == "TimestampNTZType"
        (numeric(e) && numeric(a)) || (timestampish(e) && timestampish(a))
    }
  }

  /** Diff actual vs expected schema (schema_drift.py:75–109). */
  def detectDrift(expected: StructType, actual: StructType): DriftReport = {
    val expByName = expected.fields.map(f => f.name -> f).toMap
    val actByName = actual.fields.map(f => f.name -> f).toMap
    DriftReport(
      newColumns = actual.fieldNames.filterNot(expByName.contains).toSeq,
      missingColumns = expected.fieldNames.filterNot(actByName.contains).toSeq,
      typeChanges = expected.fields.toSeq.flatMap { ef =>
        actByName.get(ef.name).collect {
          case af if af.dataType != ef.dataType =>
            (ef.name, ef.dataType.toString, af.dataType.toString)
        }
      })
  }

  /** Read a raw trip parquet with the expected schema: intersection columns
    * cast to expected types, missing columns null-filled, lineage column
    * appended (schema_drift.py:173–221 re-expressed for immutable sinks). */
  def load(spark: SparkSession, path: String, expected: StructType,
           sourceFile: String): (DataFrame, DriftReport) = {
    val raw = spark.read.parquet(path)
    val drift = detectDrift(expected, raw.schema)
    require(drift.incompatible.isEmpty,
      s"Manual intervention required for type changes: ${drift.incompatible}")
    val cols = expected.fields.map { f =>
      if (raw.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    (raw.select(cols.toIndexedSeq: _*).withColumn("source_file", lit(sourceFile)), drift)
  }

  /** Streaming SHA256 of a local file (validators.py:16–45's checksum step).
    * File-level and driver-side by nature — it runs once per ingested file
    * at the ingest boundary, never over distributed data. A parquet
    * DIRECTORY hashes its data files in name order (deterministic for a
    * given layout), so multi-part sources still get a stable checksum. */
  def sha256(path: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def feed(f: java.io.File): Unit = {
      val in = new java.io.FileInputStream(f)
      try {
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    }
    val root = new java.io.File(path)
    if (root.isDirectory)
      root.listFiles().filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_")).sortBy(_.getName).foreach(feed)
    else feed(root)
    md.digest().map("%02x".format(_)).mkString
  }

  /** File-level validation as one standalone call (validators.py:16–89):
    * row count, column names, and the file's SHA256 checksum. It reads the
    * file again and counts it in its own job, so the Cli does not call it:
    * its ingestion log takes the row count from the quality scan's total,
    * the columns from [[load]]'s drift report and the checksum from
    * [[sha256]]. */
  def validate(spark: SparkSession, path: String): (Long, Seq[String], String) = {
    val df = spark.read.parquet(path)
    (df.count(), df.columns.toSeq, sha256(path))
  }

  /** The sink's distinct `source_file` values, on the driver: one entry per
    * file ever loaded into it, so bounded by the file count, never by rows.
    * Each task dedups its own rows and the driver merges the few names each
    * sends: one job, no shuffle. */
  def loadedFiles(sink: DataFrame): Set[String] = {
    import sink.sparkSession.implicits._
    sink.select("source_file").as[String].mapPartitions(_.toSet.iterator).collect().toSet
  }

  /** Append to a raw parquet sink, partitioned by lineage so idempotency
    * checks and re-loads are partition-pruned at scale. */
  def append(df: DataFrame, path: String): Unit =
    df.write.mode("append").partitionBy("source_file").parquet(path)
}
