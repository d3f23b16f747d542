package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession

/** The one way graft builds a Spark session. Every main and the test
  * suite go through [[local]], so they all run the same engine
  * configuration.
  */
object Session {

  /** Input bytes per initial shuffle partition before AQE coalesces. */
  private val TargetPartitionBytes: Long = 64L << 20

  /** A `local[cpus]` session in UTC with graft's SQL functions
    * installed and the UI off.
    *
    * `shuffle.partitions` stays `cpus`, but AQE can only coalesce
    * partitions, never split them, so the initial count tracks the data
    * under `dataDir`: max(cpus, inputBytes / 64 MiB). With no data dir,
    * or less than 64 MiB of input per core, it is exactly `cpus`.
    */
  def local(cpus: Int, dataDir: Option[String] = None): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initialPartitions(cpus, dataDir))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  private def initialPartitions(cpus: Int, dataDir: Option[String]): Long = {
    val inputBytes = dataDir.flatMap(dir => Try {
      val walk = Files.walk(Paths.get(dir))
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally walk.close()
    }.toOption).getOrElse(0L)
    math.max(cpus.toLong, inputBytes / TargetPartitionBytes)
  }
}
