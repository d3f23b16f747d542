package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.Path
import graft.sources.Tables

/** Small-file compaction — the lakehouse OPTIMIZE/bin-pack
  * maintenance op (Delta OPTIMIZE, Iceberg rewrite_data_files). A
  * streaming ingest or over-parallel write leaves thousands of tiny
  * files; every later scan then pays a task + open + footer read per
  * file, and at 100 TB the file COUNT, not the byte count, becomes
  * the planner's bottleneck.
  *
  * Spark-first shape: size the output from the LISTED bytes (ceil of
  * total/target — the same arithmetic Delta's bin-packing uses for
  * its file groups), then rewrite through `coalesce`, which merges
  * read-partitions WITHOUT a shuffle — compaction is IO-bound by
  * construction and must not pay an exchange. The rewrite goes
  * through `StagedSwap`, so readers never see a half-compacted
  * directory and a failed rewrite leaves the source as it was.
  */
object Compaction {

  final case class Stats(
      nFilesBefore: Int, bytesBefore: Long, nFilesAfter: Int, nRows: Long)

  /** Data files under `dir` (skips _SUCCESS etc.). */
  private def dataFiles(spark: SparkSession, dir: String) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
  }

  /** Compact `dir` (a parquet directory) toward `targetBytes` files.
    * Returns the before/after stats. No-op (no rewrite) when the
    * layout already meets the target count.
    */
  def compact(spark: SparkSession, dir: String, targetBytes: Long): Stats = {
    require(targetBytes > 0, "targetBytes must be positive")
    val before = dataFiles(spark, dir)
    val bytes = before.map(_.getLen).sum
    val want = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val df = Tables.parquet(spark, dir)
    if (before.length <= want)
      return Stats(before.length, bytes, before.length, df.count())
    // coalesce, not repartition: partition merge without an exchange
    StagedSwap.overwrite(spark, dir)(df.coalesce(want).write.parquet(_))
    val after = dataFiles(spark, dir)
    Stats(before.length, bytes, after.length,
      Tables.parquet(spark, dir).count())
  }
}
