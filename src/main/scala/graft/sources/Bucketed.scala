package graft.sources

import org.apache.spark.sql.DataFrame

/** Bucketed parquet storage — the Spark-native co-location mechanism
  * for a shuffle that repeats across runs: pre-hash a table into N buckets on
  * its join/aggregation keys at WRITE time, so every downstream
  * groupBy/join on those keys reads a scan that already satisfies the
  * required partitioning and plans NO exchange.
  *
  * A shuffle on those keys becomes a one-time cost paid at ingest,
  * amortized over every later run; the same pattern the ANN path uses
  * with partition-pruned cell storage (`SimilaritySearch.writeBucketed`),
  * here with hash buckets for keys too numerous for directory
  * partitioning. Read the table back with `spark.table`: the bucket spec
  * rides the catalog entry, so the scan reports the hash partitioning.
  */
object Bucketed {

  /** Write `df` as a bucketed external parquet table. Bucketing requires
    * a catalog entry (that is where Spark records the bucket spec), so
    * the data lands at `path` and the table name carries the metadata.
    */
  def write(
      df: DataFrame,
      table: String,
      path: String,
      bucketCols: Seq[String],
      buckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "bucketCols must be non-empty")
    val base = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    val sorted =
      if (sortCols.nonEmpty) base.sortBy(sortCols.head, sortCols.tail: _*)
      else base
    sorted.option("path", path).saveAsTable(table)
  }
}
