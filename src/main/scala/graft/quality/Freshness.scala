package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Source freshness — the reference's dbt `freshness` config
  * (warn_after / error_after vs max(loaded_at); datanika
  * `services/dbt_project.py:637-655,729-742`).
  *
  * One max() aggregate per source. Spark does not answer it from
  * parquet footer statistics: the check scans the loaded-at column of
  * every row, so its cost grows with the table. `asOfMs` is an
  * explicit parameter so runs are reproducible — production callers
  * pass the wall clock.
  */
object Freshness {
  val Pass = "pass"
  val Warn = "warn"
  val Error = "error"

  /** @param loadedAtMs an epoch-ms column expression for the table's
    *                    loaded-at / event-time column
    */
  def check(
      df: DataFrame,
      tableName: String,
      loadedAtMs: Column,
      asOfMs: Long,
      warnAfterS: Long,
      errorAfterS: Long): DataFrame = {
    val maxMs = max(loadedAtMs).as("max_ms")
    df.agg(maxMs).select(
      lit(tableName).as("table_name"),
      col("max_ms"),
      ((lit(asOfMs) - col("max_ms")) / 1000).cast("long").as("age_s"))
      .withColumn("status",
        // a never-loaded source (max(loaded_at) IS NULL) is an error,
        // matching dbt — without this branch every when() is false
        // and an empty table silently passes
        when(col("max_ms").isNull, Error)
          .when(col("age_s") > errorAfterS, Error)
          .when(col("age_s") > warnAfterS, Warn)
          .otherwise(Pass))
  }
}
