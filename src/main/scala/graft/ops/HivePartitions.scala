package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Hive-style directory partitioning (`dt=.../`) — the physical
  * layout every lakehouse table starts from, and the one layout
  * family member q40 (buckets), q78 (z-order), q90 (range-sort),
  * q132 (zone maps) did not yet cover: the partition COLUMN becomes
  * the directory tree, and a range read prunes whole directories at
  * PLANNING time from the file index alone — zero data files touched
  * for excluded partitions, at any table size.
  */
object HivePartitions {

  /** Write `df` partitioned by `partCol` (one directory per value —
    * caller keeps the value space bounded: days, not user ids).
    */
  def write(df: DataFrame, path: String, partCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partCol).parquet(path)

  /** Range read [lo, hi) on the partition column: the filter sits on
    * the partition key, so Catalyst prunes directories in the file
    * index — `.inputFiles` on the result shows only surviving
    * partitions (spec-pinned).
    */
  def readRange(spark: SparkSession, path: String, partCol: String,
      lo: Column, hi: Column): DataFrame =
    Tables.parquet(spark, path)
      .filter(col(partCol) >= lo && col(partCol) < hi)
}
