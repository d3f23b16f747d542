package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.RowFilters
import graft.ops.RowFilters.RowFilter
import graft.ops.Writer

/** Multi-table extraction — the reference's `full_database` mode:
  * select `table_names` from a source, apply per-table incremental
  * cursors, row filters and write dispositions in one call (datanika
  * `services/dlt_runner.py:182-189` table selection,
  * `dlt_runner.py:341-349` per-table merge_config,
  * `upload_service.py:182-200` dispositions).
  *
  * Each table is an independent lazy DataFrame; extraction composes
  * per-table predicates into the scan (pushdown), and `loadAll`
  * submits per-table writes — at scale each table's load is its own
  * Spark job, so a 500-table database loads at cluster parallelism.
  */
object Database {

  /** Per-table extract/load configuration (dlt's resource hints). */
  final case class TableConfig(
      disposition: String = "append",
      primaryKey: Seq[String] = Nil,
      cursor: Option[String] = None,
      initialValue: Option[Any] = None,
      lastValue: Option[Any] = None,
      filters: Seq[RowFilter] = Nil)

  /** Extract the selected tables, applying per-table cursor bounds
    * and row filters. Returns name → lazy frame.
    */
  def extractAll(
      spark: SparkSession,
      dir: String,
      tableNames: Seq[String],
      perTable: Map[String, TableConfig] = Map.empty): Map[String, DataFrame] =
    tableNames.map { name =>
      val cfg = perTable.getOrElse(name, TableConfig())
      var df = Tables.load(spark, dir, name)
      cfg.cursor.foreach { c =>
        df = Incremental.extract(df, c, cfg.initialValue, cfg.lastValue)
      }
      if (cfg.filters.nonEmpty) df = RowFilters(df, cfg.filters)
      name -> df
    }.toMap

  /** Load every extracted table into `destDir` honoring its
    * disposition (append / replace / merge+primary_key). Returns the
    * load info — rows loaded per table (the reference's
    * `_extract_rows_loaded` metric, read back from the written
    * parquet footers, so it reflects what actually landed).
    */
  def loadAll(
      spark: SparkSession,
      frames: Map[String, DataFrame],
      destDir: String,
      perTable: Map[String, TableConfig] = Map.empty): Map[String, Long] =
    frames.toSeq.sortBy(_._1).map { case (name, df) =>
      val cfg = perTable.getOrElse(name, TableConfig())
      Writer.write(spark, df, s"$destDir/$name", cfg.disposition, cfg.primaryKey)
      name -> Tables.parquet(spark, s"$destDir/$name").count()
    }.toMap
}
