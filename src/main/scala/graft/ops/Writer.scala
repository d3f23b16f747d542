package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Write dispositions — the reference's dlt `write_disposition`
  * (`append` / `replace` / `merge`, datanika
  * `services/upload_service.py:14`, per-table merge hints in
  * `services/dlt_runner.py:341-349`).
  *
  * dlt `merge` semantics: destination rows whose primary key appears
  * in the incoming batch are deleted, then ALL incoming rows are
  * inserted (duplicates inside the batch are preserved unless
  * deduplicated upstream). That is a pure relational expression:
  * `existing ANTI-JOIN batch-keys  UNION ALL  batch` — one hash
  * shuffle on the PK, no driver-side row loops, so it scales to any
  * number of executors. With a transactional table format this maps
  * to MERGE INTO; on raw parquet the merged table is rewritten through
  * `StagedSwap`.
  */
object Writer {

  /** Logical merge: last batch wins per primary key. */
  def merge(existing: DataFrame, batch: DataFrame, primaryKey: Seq[String]): DataFrame = {
    require(primaryKey.nonEmpty, "merge requires a primary key")
    val keys = batch.select(primaryKey.map(col): _*).distinct()
    existing.join(keys, primaryKey, "left_anti").unionByName(batch)
  }

  /** Logical append: plain union-by-name. */
  def append(existing: DataFrame, batch: DataFrame): DataFrame =
    existing.unionByName(batch)

  /** Logical replace: the batch is the new table. */
  def replace(existing: DataFrame, batch: DataFrame): DataFrame = batch

  /** Physical write honoring a disposition. `append` adds files in
    * place; `replace` and `merge` rewrite the table through
    * [[StagedSwap.overwrite]], so a failed batch leaves the old table
    * readable and a batch may read the table it replaces. `merge` reads
    * the current table (if any) and merges the batch into it.
    *
    * `batchSize` mirrors dlt's batch-size-controlled chunked loading
    * (reference `services/dlt_runner.py:8`): Spark-side it bounds
    * records per output file (`maxRecordsPerFile`), which is what
    * controls downstream chunk granularity on a distributed store.
    */
  def write(
      spark: SparkSession,
      batch: DataFrame,
      path: String,
      disposition: String,
      primaryKey: Seq[String] = Nil,
      batchSize: Option[Long] = None): Unit = {
    def w(df: DataFrame) = {
      val base = df.write
      batchSize.fold(base)(n => base.option("maxRecordsPerFile", n))
    }
    def swap(frame: DataFrame): Unit =
      StagedSwap.overwrite(spark, path)(w(frame).parquet(_))
    disposition match {
    case "append"  => w(batch).mode("append").parquet(path)
    case "replace" => swap(batch)
    case "merge" =>
      val target = new org.apache.hadoop.fs.Path(path)
      // path-scheme-aware FS (s3a:// target must not resolve against
      // a file:// or hdfs:// defaultFS)
      val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
      swap(
        if (fs.exists(target)) merge(Tables.parquet(spark, path), batch, primaryKey)
        else batch)
    case other => throw new IllegalArgumentException(s"Unknown write_disposition: $other")
    }
  }
}
