package graft.tlc

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ingestion_log sink (loader.py:264–333, 01_raw_tables.sql:110–130) and
  * the SHA256 file-checksum half of validation (validators.py:16–45). */
class IngestionLogSpec extends AnyFunSuite {
  lazy val spark = Fixtures.sparkSession()

  private def ts(iso: String) =
    java.sql.Timestamp.from(java.time.Instant.parse(iso))

  private val entries = Seq(
    IngestionLog.Entry(1L, "yellow_tripdata_2024-06.parquet", "yellow",
      4L, 1.25, "completed", None, "aa" * 32, ts("2024-07-01T06:00:00Z")),
    IngestionLog.Entry(2L, "yellow_tripdata_2024-06.parquet", "yellow",
      0L, 0.5, "skipped", Some("already loaded"), "aa" * 32,
      ts("2024-07-02T06:00:00Z")))

  test("build emits the 01_raw_tables.sql:110–130 schema") {
    val log = IngestionLog.build(spark, entries)
    assert(log.columns.toSeq == Seq("load_sequence_id", "source_file",
      "service_type", "row_count", "load_duration_seconds", "status",
      "error_message", "file_sha256", "loaded_at"))
    val rows = log.orderBy("load_sequence_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("status") == "completed")
    assert(rows(0).getAs[String]("error_message") == null)
    assert(rows(1).getAs[String]("error_message") == "already loaded")
  }

  test("write is append-only: a re-run extends history, never rewrites it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ing_").toString
    IngestionLog.write(IngestionLog.build(spark, entries.take(1)), dir)
    IngestionLog.write(IngestionLog.build(spark, entries.drop(1)), dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 2)
    assert(back.agg(max("load_sequence_id")).head().getLong(0) == 2L)
  }

  test("lastSequenceId: 0 with no log, the max id of a written one") {
    val root = java.nio.file.Files.createTempDirectory("graft_seq_")
    assert(IngestionLog.lastSequenceId(spark, root.resolve("missing").toString) == 0L)
    val empty = java.nio.file.Files.createDirectory(root.resolve("empty"))
    java.nio.file.Files.createFile(empty.resolve("_SUCCESS"))
    assert(IngestionLog.lastSequenceId(spark, empty.toString) == 0L)
    val log = root.resolve("log").toString
    IngestionLog.write(IngestionLog.build(spark, entries), log)
    assert(IngestionLog.lastSequenceId(spark, log) == 2L)
  }

  test("lastSequenceId fails loudly on a log it cannot read, never restarts at 1") {
    val log = java.nio.file.Files.createTempDirectory("graft_seq_bad_")
    java.nio.file.Files.write(log.resolve("part-00000.parquet"), "not parquet".getBytes("UTF-8"))
    intercept[Exception](IngestionLog.lastSequenceId(spark, log.toString))
  }

  test("sha256 matches the NIST 'abc' vector and is chunk-size independent (validators.py:16–45)") {
    val f = java.nio.file.Files.createTempFile("graft_sha_", ".bin")
    java.nio.file.Files.write(f, "abc".getBytes("UTF-8"))
    assert(RawLoader.sha256(f.toString) ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    // >1 buffer (64 KiB) so the streaming loop takes multiple reads
    val big = java.nio.file.Files.createTempFile("graft_sha_big_", ".bin")
    java.nio.file.Files.write(big, Array.fill[Byte](200 * 1024)(0x41))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(Array.fill[Byte](200 * 1024)(0x41))
    assert(RawLoader.sha256(big.toString) ==
      md.digest().map("%02x".format(_)).mkString)
  }

  test("validate returns rows + columns + checksum of the same file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_val_").toString + "/y.parquet"
    Fixtures.yellow(spark).coalesce(1).write.mode("overwrite").parquet(dir)
    val (rows, cols, sha) = RawLoader.validate(spark, dir)
    assert(rows == 4)
    assert(cols.contains("tpep_pickup_datetime"))
    assert(sha.matches("[0-9a-f]{64}"))
  }
}
