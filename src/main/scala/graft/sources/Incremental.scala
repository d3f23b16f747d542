package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cursor-based incremental extraction — the reference's
  * `dlt.sources.incremental(cursor_path, initial_value, row_order)`
  * used by single_table mode (datanika `services/dlt_runner.py:169-181`,
  * validation in `services/upload_service.py:156-173`).
  *
  * Re-expressed as a predicate on the cursor column so the bound is
  * PUSHED INTO THE SCAN (parquet row-group skipping / partition
  * pruning at scale) — the engine never reads rows at or below the
  * watermark, which is what makes incremental ingestion O(new data)
  * instead of O(table) on a 100 TB table partitioned by the cursor.
  */
object Incremental {
  final case class State(lastValue: Option[Any])

  /** dlt range semantics: the FIRST run is closed on `initial_value`
    * (>=, dlt fetches the initial row); subsequent runs resume
    * strictly above the persisted `last_value` (rows equal to the
    * watermark were already loaded and deduplicated by dlt's hash —
    * re-expressed here as an open interval). `row_order` is a GLOBAL
    * ordering of the extracted stream (dlt uses it for
    * descending-cursor early termination) — a total orderBy, which
    * Spark executes as one range-partitioned sort.
    */
  def extract(
      df: DataFrame,
      cursorPath: String,
      initialValue: Option[Any] = None,
      lastValue: Option[Any] = None,
      rowOrder: Option[String] = None): DataFrame = {
    val cur: Column = col(cursorPath)
    val bounded = (lastValue, initialValue) match {
      case (Some(lv), _) => df.filter(cur > lit(lv))
      case (None, Some(iv)) => df.filter(cur >= lit(iv))
      case (None, None) => df.filter(cur.isNotNull)
    }
    rowOrder match {
      case Some("asc")  => bounded.orderBy(cur.asc)
      case Some("desc") => bounded.orderBy(cur.desc)
      case Some(other)  => throw new IllegalArgumentException(s"row_order must be asc|desc, got $other")
      case None         => bounded
    }
  }

  /** Persist the pipeline watermark between runs (dlt keeps pipeline
    * state across invocations; here it is a one-row parquet in the
    * cursor column's own type, so load round-trips losslessly).
    *
    * MERGES with any existing state: dlt preserves the previous
    * last_value across runs, so an empty batch (max = null) must NOT
    * clobber the stored watermark with null, and a late re-run of an
    * old batch must not move the watermark backwards — the persisted
    * value is greatest(previous, batch max).
    */
  def saveState(df: DataFrame, cursorPath: String, statePath: String): Unit = {
    val spark = df.sparkSession
    val batch = df.agg(max(col(cursorPath)).as("last_value"))
    val merged = loadState(spark, statePath).lastValue match {
      case Some(prev) =>
        // greatest() ignores nulls, so an empty batch keeps `prev`
        batch.select(greatest(col("last_value"), lit(prev)).as("last_value"))
      case None => batch
    }
    // head() decides whether there is a watermark to store at all
    val row = merged.head()
    if (!row.isNullAt(0))
      graft.ops.StagedSwap.overwrite(spark, statePath)(
        spark.createDataFrame(java.util.Collections.singletonList(row), merged.schema)
          .coalesce(1).write.parquet(_))
  }

  /** Load the persisted watermark; None when no state exists yet
    * (first run) or the stored value is null.
    */
  def loadState(spark: org.apache.spark.sql.SparkSession, statePath: String): State = {
    val p = new org.apache.hadoop.fs.Path(statePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) State(None)
    else {
      val row = spark.read.parquet(statePath).head()
      State(if (row.isNullAt(0)) None else Some(row.get(0)))
    }
  }
}
