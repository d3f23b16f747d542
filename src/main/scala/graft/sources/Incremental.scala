package graft.sources

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cursor-based incremental extraction — the reference's
  * `dlt.sources.incremental(cursor_path, initial_value, row_order)`
  * used by single_table mode (datanika `services/dlt_runner.py:169-181`,
  * validation in `services/upload_service.py:156-173`).
  *
  * Re-expressed as a predicate on the cursor column so the bound is
  * PUSHED INTO THE SCAN. Only a source that can skip by the cursor
  * makes that O(new data): parquet row-group statistics or a table
  * partitioned by the cursor let the engine leave rows at or below the
  * watermark unread. A CSV or JSON landing glob has neither, so every
  * landed file is parsed again on each run and the predicate only
  * drops rows after parsing: O(landed data), not O(new data).
  *
  * The watermark itself costs no Spark job to read back while it is
  * the one this session saved (see [[loadState]]).
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
    *
    * The value swapped in is remembered for this session together with
    * the state path's listing, so [[loadState]] answers it without a
    * read-back job until the files at the path change.
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
    if (!row.isNullAt(0)) {
      graft.ops.StagedSwap.overwrite(spark, statePath)(
        spark.createDataFrame(java.util.Collections.singletonList(row), merged.schema)
          .coalesce(1).write.parquet(_))
      val (key, listing) = stateFiles(spark, statePath)
      listing.foreach(l => written(spark).put(key, (l, row.get(0))))
    }
  }

  /** Load the persisted watermark; None when no state exists yet
    * (first run) or the stored value is null. State this session
    * swapped in, still as it left it, is answered from memory without
    * a Spark job; any other state is read from its parquet.
    */
  def loadState(spark: SparkSession, statePath: String): State = {
    val (key, listing) = stateFiles(spark, statePath)
    listing match {
      case None => State(None)
      case Some(l) => written(spark).get(key) match {
        case Some((`l`, value)) => State(Some(value))
        case _ =>
          val row = Tables.parquet(spark, statePath).head()
          State(if (row.isNullAt(0)) None else Some(row.get(0)))
      }
    }
  }

  /** Per session, since the watermark's Java type follows the
    * session's conf: qualified state path → (its listing, the watermark
    * [[saveState]] wrote there). A listing that no longer matches
    * means the state was rewritten or removed since.
    */
  private val sessions =
    new java.util.WeakHashMap[SparkSession, TrieMap[String, (Seq[(String, Long, Long)], Any)]]()

  private def written(spark: SparkSession) = sessions.synchronized {
    sessions.computeIfAbsent(spark, _ => TrieMap.empty)
  }

  /** The qualified state path and its files (name, length, mtime),
    * None when nothing is at the path.
    */
  private def stateFiles(spark: SparkSession,
      statePath: String): (String, Option[Seq[(String, Long, Long)]]) = {
    val p = new Path(statePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listing =
      try Some(fs.listStatus(p).toSeq
        .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sorted)
      catch { case _: java.io.FileNotFoundException => None }
    (fs.makeQualified(p).toString, listing)
  }
}
