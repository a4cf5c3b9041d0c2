package graft.operators

import org.apache.spark.sql.DataFrame

/** Bucketed (pre-shuffled) tables for co-located joins — the storage-side
  * answer to the biggest shuffle in a pipeline (SURVEY.md §4).
  *
  * A fact table bucketed on its join key is written through one final
  * shuffle at ingest time; every subsequent join or aggregation on that key
  * reads the buckets back already partitioned — zero exchanges at query
  * time (pinned by BucketedJoinSpec). At 100 TB this converts the recurring
  * cost of the lineitem⋈orders-shape join into a one-time ingest cost;
  * the bucket count is chosen once (2-3x total cluster cores, like
  * shuffle.partitions) and must match on both sides of the join.
  */
object Bucketing {

  /** Write `df` as a bucketed+sorted managed table on `key`. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Append rows into an existing bucketed table, preserving its layout:
    * each append batch writes its own per-bucket files (hash-routed on
    * the SAME key + count, so bucket pruning and zero-exchange joins
    * keep holding); readers merge the file sets. The incremental half of
    * the [[writeBucketed]] seam — an index/projection maintained by
    * appends instead of rebuilt per refresh.
    */
  def appendBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode("append")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)
}
