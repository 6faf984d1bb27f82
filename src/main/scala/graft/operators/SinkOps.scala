package graft.operators

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.Exact._
import graft.tlc.RawLoader

/** Sink + metadata operators that were previously spec-only (SURVEY.md §2.1
  * S2/S7/S9): every one now has a DuckDB-hash gate.
  *
  * - S2 `s2_schema_probe`: parquet schema introspection (schema.py:63–80's
  *   pre-load probe), emitted as (tbl, column_name, column_type) rows with
  *   types canonicalized to SQL names so the DuckDB `DESCRIBE` oracle
  *   matches literally.
  * - S7 `s7_append_sink`: lineage-partitioned append sink (RawLoader.append;
  *   loader.py:213–263's INSERT path) — two loads land side by side, the
  *   gate reads the sink back and proves both loads' rows are intact and
  *   attributed. Staged ONCE per (session, dataset); the timed run measures
  *   the partition-pruned read-back, not the staging write.
  * - S9 `s9_truncate_rebuild`: full-table overwrite semantics (the
  *   reference's DELETE + INSERT rebuild, aggregations.py:19,77) — after a
  *   second overwrite only the rebuilt rows exist. The partition-level
  *   incremental variant is Aggregations.refresh (LoaderPipelineSpec).
  */
object SinkOps extends graft.QueryFamily {
  /** Spark → SQL type-name canonicalization for the schema probe (the
    * names DuckDB's DESCRIBE prints for the same parquet files). */
  private def sqlTypeName(dt: DataType): String = dt match {
    case LongType       => "BIGINT"
    case IntegerType    => "INTEGER"
    case ShortType      => "SMALLINT"
    case ByteType       => "TINYINT"
    case DoubleType     => "DOUBLE"
    case FloatType      => "FLOAT"
    case StringType     => "VARCHAR"
    case BooleanType    => "BOOLEAN"
    case BinaryType     => "BLOB"
    case DateType       => "DATE"
    // DuckDB's TIMESTAMP is wall-clock (no zone) — both Spark timestamp
    // flavors print as the same SQL name there.
    case TimestampType | TimestampNTZType => "TIMESTAMP"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case ArrayType(e, _) => sqlTypeName(e) + "[]"
    case other          => other.simpleString.toUpperCase
  }

  private val stagedAppend = new ConcurrentHashMap[(SparkSession, String), String]()
  private val stagedRebuild = new ConcurrentHashMap[(SparkSession, String), String]()
  private val stagedJsonl = new ConcurrentHashMap[(SparkSession, String), String]()

  val queries: Map[String, Q] = Map(
    // F16: CORRUPT-RECORD-TOLERANT ingestion — the JSONL reality at corpus
    // scale: some fraction of lines is malformed, and the load must neither
    // die (FAILFAST) nor silently drop them (DROPMALFORMED) but quarantine
    // them for audit. PERMISSIVE mode + an explicit _corrupt_record column
    // does exactly that: bad lines parse to NULL fields with the raw line
    // preserved. Staged once per (session, dataset): nation serialized to
    // JSONL with every 5th line deterministically mangled.
    "f16_corrupt_json" -> { (s, d) =>
      val dir = stagedJsonl.computeIfAbsent((s, d), { _ =>
        val out = Files.createTempDirectory("graft_jsonl_").toString
        Tables.nation(s, d)
          .select(when(pmod(col("n_nationkey"), lit(5)) === 0,
              concat(lit("{bad "), col("n_name")))
            .otherwise(to_json(struct(col("n_nationkey"), col("n_name"))))
            .as("line"))
          .coalesce(1).write.mode("overwrite").text(out)
        out
      })
      val schema = new StructType()
        .add("n_nationkey", LongType).add("n_name", StringType)
        .add("_corrupt_record", StringType)
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(dir)
        .agg(
          count(lit(1)).as("n_total"),
          count(col("_corrupt_record")).as("n_corrupt"),
          count(col("n_nationkey")).as("n_valid"),
          sum(col("n_nationkey")).as("valid_key_sum"))
    },

    "s2_schema_probe" -> { (s, d) =>
      import s.implicits._
      Seq("orders", "region")
        .flatMap { t =>
          Tables(s, d, t).schema.fields.toSeq.map(f => (t, f.name, sqlTypeName(f.dataType)))
        }
        .toDF("tbl", "column_name", "column_type")
        .orderBy("tbl", "column_name")
    },

    "s7_append_sink" -> { (s, d) =>
      val dir = stagedAppend.computeIfAbsent((s, d), { _ =>
        val t = Files.createTempDirectory("graft_append_").toString
        val nation = Tables.nation(s, d)
        RawLoader.append(nation.withColumn("source_file", lit("load_1")), t)
        RawLoader.append(nation.withColumn("source_file", lit("load_2")), t)
        t
      })
      s.read.parquet(dir)
        .groupBy("source_file")
        .agg(
          count(lit(1)).as("n_rows"),
          min(col("n_name")).as("first_nation"),
          max(col("n_name")).as("last_nation"))
        .orderBy("source_file")
    },

    "s9_truncate_rebuild" -> { (s, d) =>
      val dir = stagedRebuild.computeIfAbsent((s, d), { _ =>
        val t = Files.createTempDirectory("graft_rebuild_").toString
        val cust = Tables.customer(s, d)
        cust.filter(col("c_nationkey") < 10).write.mode("overwrite").parquet(t)
        // the rebuild: overwrite replaces the WHOLE sink — only < 5 survives
        cust.filter(col("c_nationkey") < 5).write.mode("overwrite").parquet(t)
        t
      })
      s.read.parquet(dir)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_custs"), dsum(col("c_acctbal")).as("total_bal"))
        .orderBy("c_nationkey")
    })

  val oracles: Map[String, String] = Map(
    // replay of the injection rule: every 5th nation line is corrupt.
    "f16_corrupt_json" ->
      """SELECT COUNT(*) AS n_total,
                CAST(SUM(CASE WHEN n_nationkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
                CAST(SUM(CASE WHEN n_nationkey % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
                CAST(SUM(CASE WHEN n_nationkey % 5 <> 0 THEN n_nationkey END) AS BIGINT) AS valid_key_sum
         FROM nation""",

    "s2_schema_probe" ->
      """SELECT tbl, column_name, column_type FROM (
           SELECT 'orders' AS tbl, column_name, column_type
           FROM (DESCRIBE SELECT * FROM orders)
           UNION ALL
           SELECT 'region' AS tbl, column_name, column_type
           FROM (DESCRIBE SELECT * FROM region))
         ORDER BY tbl, column_name""",

    // The doubled sink equals nation tagged per load.
    "s7_append_sink" ->
      """WITH loads(source_file) AS (VALUES ('load_1'), ('load_2'))
         SELECT source_file, COUNT(*) AS n_rows,
                MIN(n_name) AS first_nation, MAX(n_name) AS last_nation
         FROM nation CROSS JOIN loads
         GROUP BY 1 ORDER BY 1""",

    // After the rebuild only the < 5 build exists in the sink.
    "s9_truncate_rebuild" ->
      """SELECT c_nationkey, COUNT(*) AS n_custs,
                CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(30,8))), 4) AS DOUBLE) AS total_bal
         FROM customer WHERE c_nationkey < 5
         GROUP BY 1 ORDER BY 1""")
}
