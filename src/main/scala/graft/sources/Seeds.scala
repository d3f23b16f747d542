package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.Writer

/** dbt seeds — CSV files materialized as warehouse tables (the
  * reference runs `dbt seed`, VALID_COMMANDS in
  * `services/dbt_project.py:262`). Spark-side: schema'd CSV read,
  * snake_case column normalization, full-refresh write; the table is
  * then addressable like any model.
  */
object Seeds {

  /** Load every `*.csv` in `seedsDir` into `warehouseDir/<name>`;
    * returns name → frame of the persisted tables.
    */
  def loadAll(
      spark: SparkSession,
      seedsDir: String,
      warehouseDir: String): Map[String, DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(seedsDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Map.empty
    fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".csv"))
      .map(_.stripSuffix(".csv"))
      .sorted
      .map { name =>
        val df = FileSource.normalizeColumns(
          FileSource.read(spark, "csv", s"$seedsDir/$name.csv"))
        Writer.write(spark, df, s"$warehouseDir/$name", "replace")
        name -> Tables.parquet(spark, s"$warehouseDir/$name")
      }.toMap
  }
}
