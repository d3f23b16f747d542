package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** File ingestion — the reference's file connectors (CSV / JSON /
  * Parquet with glob patterns, datanika `services/dlt_runner.py:10-12,
  * 191-206`; allowed upload types in `services/file_upload_service.py:15`).
  *
  * Globs resolve on the distributed filesystem (Spark's FileIndex),
  * so a bucket with millions of files lists in parallel; explicit
  * schemas avoid the double-read of inference on big inputs.
  */
object FileSource {
  // csv/json/parquet are the reference's dlt file formats
  // (dlt_runner.py:10-12); orc is graft's lakehouse extension —
  // Spark reads/writes it natively with the same pushdown/pruning
  // machinery as parquet
  val SupportedTypes: Set[String] = Set("csv", "json", "parquet", "orc")

  def read(
      spark: SparkSession,
      format: String,
      path: String,
      glob: Option[String] = None,
      schema: Option[StructType] = None): DataFrame = {
    require(SupportedTypes.contains(format), s"Unsupported file type: $format")
    val full = glob.map(g => s"$path/$g").getOrElse(path)
    if (format == "parquet" && schema.isEmpty) return Tables.parquet(spark, full)
    var r = spark.read.format(format)
    schema.foreach(sc => r = r.schema(sc))
    format match {
      case "csv" =>
        r = r.option("header", "true")
        if (schema.isEmpty) r = r.option("inferSchema", "true")
      case "json" => // schema strongly recommended: inference scans twice
      case _ =>
    }
    r.load(full)
  }

  /** dlt filesystem-source defaults (dlt_runner.py:12). */
  val DefaultFileGlobs: Map[String, String] =
    Map("csv" -> "*.csv", "json" -> "*.json", "parquet" -> "*.parquet",
      "orc" -> "*.orc")

  /** dlt AWS credential keys (dlt_runner.py:14) → Hadoop S3A conf. */
  private[sources] val CredentialConf: Map[String, String] = Map(
    "aws_access_key_id" -> "fs.s3a.access.key",
    "aws_secret_access_key" -> "fs.s3a.secret.key",
    "region_name" -> "fs.s3a.endpoint.region",
    "endpoint_url" -> "fs.s3a.endpoint")

  /** Bucket-URL file source — the reference's filesystem connector
    * (datanika `services/dlt_runner.py:191-206`: `bucket_url` +
    * `file_glob` + optional AWS credentials). Credentials map onto
    * Hadoop S3A configuration; the URI scheme selects the filesystem,
    * so one call reads `file://`, `hdfs://`, or `s3a://` buckets.
    * Remote endpoints are untestable here (zero egress), but the API
    * and the credential plumbing are real and exercised over
    * `file://` globs.
    */
  def readBucket(
      spark: SparkSession,
      bucketUrl: String,
      format: String,
      fileGlob: Option[String] = None,
      credentials: Map[String, String] = Map.empty,
      schema: Option[StructType] = None): DataFrame = {
    require(bucketUrl.nonEmpty, "File sources require a bucket_url")
    applyCredentials(spark, credentials)
    val glob = fileGlob.orElse(DefaultFileGlobs.get(format)).getOrElse("*")
    read(spark, format, bucketUrl.stripSuffix("/"), Some(glob), schema)
  }

  /** Apply dlt-style credentials to the session's Hadoop conf.
    * Unknown keys fail loudly — a silently dropped credential key
    * turns into an auth error hours later on a real bucket.
    */
  def applyCredentials(spark: SparkSession, creds: Map[String, String]): Unit =
    creds.foreach { case (k, v) =>
      CredentialConf.get(k) match {
        case Some(hadoopKey) =>
          spark.sparkContext.hadoopConfiguration.set(hadoopKey, v)
        case None => throw new IllegalArgumentException(
          s"unknown credential key: $k (allowed: ${CredentialConf.keys.mkString(", ")})")
      }
    }

  /** Reference naming: collapse whitespace to `_`, lowercase
    * (datanika `services/naming.py:to_snake_case`), applied to column
    * names on ingestion.
    */
  def toSnakeCase(name: String): String =
    name.trim.replaceAll("\\s+", "_").toLowerCase

  /** Reference naming: entity names must be non-empty and
    * alphanumeric + spaces only (datanika
    * `services/naming.py:validate_name`) — the gate applied BEFORE
    * `toSnakeCase` turns a display name into a table/model
    * identifier.
    */
  def validateName(name: String, entityLabel: String): Unit = {
    val stripped = name.trim
    require(stripped.nonEmpty, s"$entityLabel name cannot be empty")
    require(stripped.matches("[a-zA-Z0-9 ]+"),
      s"$entityLabel name must contain only alphanumeric characters and spaces")
  }

  def normalizeColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(toSnakeCase): _*)
}
