package graft.sources

import org.apache.spark.sql.DataFrame

/** Serving-side sinks (reference analog: curated→PostgreSQL JDBC export,
  * curated_to_postgres.py:50-75, and the Delta/MinIO medallion writes).
  *
  * Scale notes: partitioned parquet with sortWithinPartitions gives
  * partition-pruned, run-length-friendly files — the knobs that matter
  * at scale, assembled here so callers can't forget them. */
object Sinks {

  /** Write a frame as hive-partitioned parquet, sorted within partitions
    * on `sortCols` for downstream scan locality. The frame is first
    * clustered BY the hive partition columns — without that, every
    * upstream task holding every partition value emits tasks×partitions
    * small files and no file is globally sorted; clustered, each task
    * owns whole hive partitions and writes one sorted file per
    * partition. */
  def writePartitionedParquet(df: DataFrame, path: String,
      partitionCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    val cluster = partitionCols.map(df.col)
    df.repartition(cluster: _*)
      .sortWithinPartitions((partitionCols ++ sortCols).map(df.col): _*)
      .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
  }

  /** Save a frame as a parquet table bucketed (and sorted) by `key` —
    * the co-located-join layout: two tables bucketed by the same key
    * into the same bucket count join bucket-to-bucket with NO shuffle
    * exchange on either side (PlanSpec proves it). At 100 TB this is
    * the difference between re-shuffling the fact table on every join
    * and paying the partitioning once at write time — the standard
    * layout for a serving/curated layer that gets joined repeatedly on
    * its key (the reference's curated guid-keyed tables,
    * join_eu_ugc_qdrant_merge.py). */
  def bucketedTable(df: DataFrame, table: String, key: String,
      buckets: Int = 8): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)
}
