package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps one entry per implemented operator from SURVEY.md §2 (plus
  * the beyond-reference training-data ops) to a DataFrame builder over the
  * driver's testdata tables; `oracleSql` carries the DuckDB-equivalent SQL
  * for the correctness gate. Column names/aliases match between the two
  * (the driver sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Pricing summary (A1 shape, analytics 01): grouped conditional aggs. */
  def entry(spark: SparkSession): DataFrame =
    queries("a1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Every query family, in the order their maps are merged. */
  val families: Seq[QueryFamily] = Seq(
    operators.CsvOps,
    operators.OrcOps,
    operators.SinkOps,
    operators.ReshapeOps,
    operators.ExtendedOps,
    operators.BreadthOps,
    operators.BucketedOps,
    operators.DepthOps,
    operators.SamplingOps,
    operators.CompletionOps,
    operators.CurationOps,
    operators.GraphOps,
    operators.StatOps,
    operators.RelevanceOps,
    operators.LayoutOps,
    operators.SketchOps,
    operators.IndexOps,
    operators.SessionScaleOps,
    operators.GovernanceOps,
    operators.LinkageOps,
    operators.ScanFilterOps,
    operators.AggOps,
    operators.JoinOps,
    operators.WindowSortOps,
    functions.ScalarOps,
    ops.TextOps,
    ops.DedupOps,
    ops.SimilarityOps,
    ops.MultimodalOps,
    streaming.StreamingOps,
    streaming.StatefulSessionize,
    TlcDemo,
    TlcScaledDemo)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    families.flatMap(_.queries).toMap

  /** For each key in queries, equivalent SQL runnable by DuckDB on the same
    * parquet tables. Omitted keys get a weaker rows-only check. */
  def oracleSql: Map[String, String] = families.flatMap(_.oracles).toMap
}
