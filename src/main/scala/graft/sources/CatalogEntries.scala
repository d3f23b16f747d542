package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Writer

/** Catalog entry registry — the reference's CatalogEntry store
  * (`services/catalog_service.py:upsert_entry/list_entries/
  * delete_entry`, `models/catalog_entry.py`): entries matched on
  * (table_name, schema_name, dataset_name), updated in place,
  * soft-deleted via `deleted_at`.
  *
  * Re-expressed on parquet with graft's own primitives: upsert =
  * `Writer.write(merge)` on the natural key, soft delete = upsert of
  * the tombstoned row, list = scan filtering live rows. Timestamps
  * are caller-supplied (epoch ms) so runs are reproducible.
  */
final class CatalogEntries(spark: SparkSession, path: String) {

  private val key = Seq("table_name", "schema_name", "dataset_name")

  private val entrySchema = StructType(Seq(
    StructField("table_name", StringType, nullable = false),
    StructField("schema_name", StringType, nullable = false),
    StructField("dataset_name", StringType, nullable = false),
    StructField("entry_type", StringType, nullable = false),
    StructField("description", StringType),
    StructField("n_columns", IntegerType, nullable = false),
    StructField("created_at_ms", LongType, nullable = false),
    StructField("updated_at_ms", LongType, nullable = false),
    StructField("deleted_at_ms", LongType)))

  private def exists: Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def all(): DataFrame =
    if (exists) Tables.parquet(spark, path)
    else spark.createDataFrame(new java.util.ArrayList[Row](), entrySchema)

  /** Insert or update, preserving created_at on update (reference
    * upsert keeps the original row identity).
    */
  def upsert(
      tableName: String,
      schemaName: String,
      datasetName: String,
      entryType: String,
      description: Option[String],
      nColumns: Int,
      nowMs: Long): Unit = {
    val existing = all().filter(
      col("table_name") === tableName && col("schema_name") === schemaName &&
        col("dataset_name") === datasetName)
      .select("created_at_ms").collect().headOption
    val createdAt = existing.map(_.getLong(0)).getOrElse(nowMs)
    val row = Row(tableName, schemaName, datasetName, entryType,
      description.orNull, nColumns, createdAt, nowMs, null)
    val batch = spark.createDataFrame(java.util.Arrays.asList(row), entrySchema)
    Writer.write(spark, batch, path, "merge", key)
  }

  /** Batched upsert: ONE merge write for any number of entries — the
    * shape a catalog sync of 10k discovered tables needs (per-entry
    * upserts would serialize 10k tiny merge jobs on the driver).
    * created_at is preserved for keys that already exist via a single
    * left join against the current registry.
    */
  def upsertAll(entries: Seq[CatalogEntries.EntrySpec]): Unit = {
    if (entries.isEmpty) return
    val rows: java.util.List[Row] = java.util.Arrays.asList(entries.map { e =>
      Row(e.tableName, e.schemaName, e.datasetName, e.entryType,
        e.description.orNull, e.nColumns, e.nowMs, e.nowMs, null)
    }: _*)
    val batch = spark.createDataFrame(rows, entrySchema)
    val prev = all().select(col("table_name"), col("schema_name"),
      col("dataset_name"), col("created_at_ms").as("__prev_created"))
    val merged = batch.join(prev, key, "left")
      .withColumn("created_at_ms",
        coalesce(col("__prev_created"), col("created_at_ms")))
      .select(entrySchema.fieldNames.map(col).toSeq: _*)
    Writer.write(spark, merged, path, "merge", key)
  }

  /** Soft delete: tombstone the row (kept for audit, excluded from
    * list()); no-op if absent.
    */
  def delete(tableName: String, schemaName: String, datasetName: String, nowMs: Long): Boolean = {
    val hit = all().filter(
      col("table_name") === tableName && col("schema_name") === schemaName &&
        col("dataset_name") === datasetName).collect().headOption
    hit match {
      case None => false
      case Some(r) =>
        val tomb = Row(r.getAs[String]("table_name"), r.getAs[String]("schema_name"),
          r.getAs[String]("dataset_name"), r.getAs[String]("entry_type"),
          r.getAs[String]("description"), r.getAs[Int]("n_columns"),
          r.getAs[Long]("created_at_ms"), nowMs, java.lang.Long.valueOf(nowMs))
        Writer.write(spark,
          spark.createDataFrame(java.util.Arrays.asList(tomb), entrySchema),
          path, "merge", key)
        true
    }
  }

  /** Live entries, newest first (reference orders by created_at
    * desc); optional entry_type filter.
    */
  def list(entryType: Option[String] = None): DataFrame = {
    val live = all().filter(col("deleted_at_ms").isNull)
    entryType.fold(live)(t => live.filter(col("entry_type") === t))
      .orderBy(col("created_at_ms").desc, col("table_name"))
  }
}

object CatalogEntries {
  /** One discovered entry for `upsertAll`. */
  final case class EntrySpec(
      tableName: String,
      schemaName: String,
      datasetName: String,
      entryType: String,
      description: Option[String],
      nColumns: Int,
      nowMs: Long)
}
