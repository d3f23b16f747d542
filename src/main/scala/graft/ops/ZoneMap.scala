package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** File-level zone maps (min/max data skipping) — the lakehouse
  * primitive behind Delta/Iceberg file pruning, and the batch-read
  * complement of q90's sorted layout: once a table is WRITTEN
  * range-sorted on a key, a metadata-sized manifest of per-file
  * (min, max, rows) lets a range query open only the files whose
  * interval overlaps the predicate — at 100 TB the difference
  * between scanning everything and scanning the two files that
  * matter. (Parquet row-group stats give the same skip INSIDE a
  * file; the manifest gives it ACROSS files without touching any
  * footer.)
  *
  * Shapes: `write` pays one range exchange (repartitionByRange —
  * the same shuffle a sorted layout costs anyway) and derives the
  * manifest with one column-pruned scan of the key (grouped by
  * `input_file_name`, partial-aggregated). `readRange` reads the
  * MANIFEST (≤ one row per file — metadata, not data), collects the
  * surviving file list on the driver (bounded by file count, the
  * same scale as any planner's split enumeration), and plans a scan
  * over only those files; the residual predicate stays on the scan,
  * so correctness never depends on the pruning being right.
  */
object ZoneMap {

  def manifestPath(path: String): String = path + "_zonemap"

  /** Range-sorted write + manifest derivation. One shuffle total. */
  def write(df: DataFrame, path: String, sortCol: String,
      numFiles: Int): Unit = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    df.repartitionByRange(numFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(path)
    val spark = df.sparkSession
    Tables.parquet(spark, path)
      .select(input_file_name().as("file"), col(sortCol))
      .groupBy("file")
      .agg(min(sortCol).as("lo"), max(sortCol).as("hi"),
        count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(manifestPath(path))
  }

  /** Files whose [lo, hi] interval overlaps [from, until). Driver
    * result is metadata-sized (one path per surviving file). Files
    * whose key column is entirely NULL (lo/hi null) are kept — the
    * manifest cannot prove they miss the range.
    */
  def candidateFiles(spark: SparkSession, path: String,
      from: Column, until: Column): Seq[String] =
    Tables.parquet(spark, manifestPath(path))
      .filter(col("lo").isNull || (col("hi") >= from && col("lo") < until))
      .select("file").collect().map(_.getString(0)).toSeq

  /** Pruned range read: only overlapping files are scanned; the
    * residual `from <= key < until` filter stays on the scan so a
    * stale manifest can widen the read but never corrupt the result.
    */
  def readRange(spark: SparkSession, path: String, sortCol: String,
      from: Column, until: Column): DataFrame = {
    val files = candidateFiles(spark, path, from, until)
    val base =
      if (files.isEmpty)
        // empty selection: preserve schema via a zero-row filter
        Tables.parquet(spark, path).filter(lit(false))
      else Tables.parquet(spark, files: _*)
    base.filter(col(sortCol) >= from && col(sortCol) < until)
  }
}
