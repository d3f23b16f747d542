package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Canonical table loader and the one parquet reader of the graft
  * engine.
  *
  * Mirrors the reference's source-registration path (datanika
  * `services/dlt_runner.py:149-206` builds dlt sources per table); in
  * Spark the equivalent is a parquet scan per table, registered as a
  * temp view so SQL transforms (the reference's dbt layer) can refer
  * to tables by name.
  *
  * Every parquet read in graft goes through [[parquet]], which takes
  * the schema from the file footer on the driver instead of running
  * Spark's one-task schema-inference job, so a load costs no Spark job
  * and the data is still scanned only by the query that uses it.
  *
  * Scale note: the scans stay declarative, so Catalyst applies column
  * pruning + predicate pushdown; at 100 TB each table is a partitioned
  * directory, which [[parquet]] leaves to Spark's own inference.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The events table's `ts` contract inside graft is EPOCH-NANOS
    * LONG — operators quantize to ms (`NS_PER_MS`) where the
    * semantics call for wall-clock time. Data generations have
    * shipped it physically as TIMESTAMP(NANOS) (read losslessly as
    * long via the legacy conf) and as timestamp[us] (read as a
    * timestamp type, converted to epoch-ns here — ×1000 exact);
    * normalizing at the loader keeps every operator and every DuckDB
    * oracle (`epoch_ns(ts)`) encoding-agnostic.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = parquet(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeTsNs(df) else df
  }

  /** `spark.read.parquet(paths: _*)` without its schema-inference job.
    *
    * Spark's inference, when it does not merge schemas, reads ONE
    * footer: `_common_metadata`, else `_metadata`, else the first data
    * file in path order, and it reads it in a one-task Spark job. Here
    * the paths are listed and that same footer is read on the driver,
    * converted by Spark's own `readSchemaFromFooter` under the
    * session's parquet confs (`nanosAsLong`, INT96, binary-as-string),
    * and handed to the reader as its schema. Where the listing is not a
    * flat set of files (partition subdirectories), schemas merge,
    * corrupt files are to be skipped, a path is a glob, or nothing is
    * there to read, the call is plain
    * `spark.read.parquet`, so those cases keep Spark's schema and its
    * errors. A footer that cannot be read throws, as inference does.
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  private def footerSchema(spark: SparkSession,
      paths: Seq[String]): Option[StructType] = {
    val sql = spark.sessionState.conf
    val hadoop = spark.sessionState.newHadoopConf()
    val readHere = paths.nonEmpty && !sql.isParquetSchemaMergingEnabled &&
      !sql.ignoreCorruptFiles && !paths.exists(_.exists("{}[]*?\\".contains(_)))
    val listed =
      if (!readHere) None
      else paths.foldLeft(Option(Seq.empty[FileStatus])) { (acc, p) =>
        acc.flatMap(files => flatFiles(new Path(p), hadoop).map(files ++ _))
      }
    listed.flatMap { unsorted =>
      val files = unsorted.sortBy(_.getPath.toString)
      def named(n: String) = files.find(_.getPath.getName == n)
      named("_common_metadata").orElse(named("_metadata"))
        .orElse(files.find(f => !Summaries(f.getPath.getName)))
    }.map { f =>
      val meta = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, hadoop), ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
        new ParquetToSparkSchemaConverter(sql))
    }
  }

  /** The file at `path`, or the files Spark lists in the directory at
    * `path`; None when the path is missing or holds a subdirectory.
    */
  private def flatFiles(path: Path,
      hadoop: org.apache.hadoop.conf.Configuration): Option[Seq[FileStatus]] = {
    val fs = path.getFileSystem(hadoop)
    val status =
      try fs.getFileStatus(path)
      catch { case _: java.io.FileNotFoundException => return None }
    if (status.isFile) Some(Seq(status))
    else {
      val children = fs.listStatus(path).toSeq.filterNot(c => hidden(c.getPath.getName))
      if (children.exists(_.isDirectory)) None else Some(children)
    }
  }

  private val Summaries = Set("_common_metadata", "_metadata")

  /** The names Spark's file listing leaves out of a directory. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))

  /** ts → epoch-ns long, whatever the physical encoding. The NTZ →
    * TIMESTAMP cast is value-preserving under the UTC session tz all
    * graft entry points set.
    */
  private[graft] def normalizeTsNs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampType) |
           Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts", org.apache.spark.sql.functions.unix_micros(
          org.apache.spark.sql.functions.col("ts").cast("timestamp")) * NS_PER_US)
      case _ => df
    }

  val NS_PER_US = 1000L

  val NS_PER_MS = 1000000L

  /** Epoch-nanos for a UTC instant like "2024-01-20T00:00:00Z". */
  def epochNs(instant: String): Long =
    java.time.Instant.parse(instant).toEpochMilli * NS_PER_MS

  /** Register every table as a temp view (idempotent). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
