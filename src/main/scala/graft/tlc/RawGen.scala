package graft.tlc

/** Warehouse input generator: writes the scaled-fixture raw service files
  * (TlcScaledDemo.rawFixtureN — `copies` stacked replicas of the hash-gated
  * 22,320-trip pattern) to parquet, plus the zones dim, as input for
  * `Cli run-e2e` at any scale without a download.
  *
  *   runMain graft.tlc.RawGen <outDir> <copies> [shiftDays]
  *
  * `shiftDays` (the incremental-month episode) shifts every
  * timestamp column forward, producing a LATER disjoint date window of the
  * same shape — the "new month of raw files" that `Cli run-incremental`
  * folds into an existing warehouse. Shifted files carry a distinct file
  * name (`yellow_d62.parquet`), since the incremental loader's idempotency
  * is keyed on source_file lineage.
  */
object RawGen {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val copies = if (args.length > 1) args(1).toInt else 100
    val shiftDays = if (args.length > 2) args(2).toInt else 0
    val spark = graft.Session.local("graft-rawgen")
    val (y0, g0, h0, z) = graft.TlcScaledDemo.rawFixtureN(spark, copies)
    def shift(df: org.apache.spark.sql.DataFrame) =
      if (shiftDays == 0) df
      else df.schema.fields.filter(_.dataType.typeName.startsWith("timestamp"))
        .foldLeft(df) { (d, f) =>
          d.withColumn(f.name, org.apache.spark.sql.functions.expr(
            s"`${f.name}` + INTERVAL $shiftDays DAYS"))
        }
    val (y, g, h) = (shift(y0), shift(g0), shift(h0))
    val suffix = if (shiftDays == 0) "" else s"_d$shiftDays"
    // source_file is dropped: both loaders stamp it themselves (RawLoader
    // adds the file name; the reference's SchemaDriftHandler appends its own
    // source_file and would collide with a pre-existing column).
    y.drop("source_file").write.mode("overwrite").parquet(s"$dir/yellow$suffix.parquet")
    g.drop("source_file").write.mode("overwrite").parquet(s"$dir/green$suffix.parquet")
    h.drop("source_file").write.mode("overwrite").parquet(s"$dir/hvfhv$suffix.parquet")
    z.coalesce(1).write.mode("overwrite").parquet(s"$dir/zones.parquet")
    // the reference's SchemaManager.load_taxi_zones wants a CSV
    z.coalesce(1).write.mode("overwrite").option("header", true)
      .csv(s"$dir/zones_csv")
    println(s"[rawgen] wrote ${22320L * copies} trips across 3 services -> $dir")
    spark.stop()
  }
}
