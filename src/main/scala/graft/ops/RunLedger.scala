package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Run ledger — the reference's ExecutionService run lifecycle
  * (datanika `services/execution_service.py`: create/start/complete/
  * fail/cancel + list) and the upstream dependency check
  * (`services/dependency_check.py:check_upstream_dependencies`: an
  * upstream node is satisfied iff it has a SUCCESS run within the
  * check timeframe).
  *
  * Parquet-backed like CatalogEntries: every lifecycle transition is
  * an idempotent merge on run_id (last write wins), so replayed task
  * updates can't duplicate ledger rows. Timestamps are caller-supplied
  * epoch ms for reproducibility.
  *
  * CONCURRENCY CONTRACT — single writer. `record` stages the merged
  * table and swaps it in (read-never-sees-partial-write), but the
  * swap itself is not atomic across WRITERS: two concurrent `record`
  * calls can lose one update (read-modify-write race on the staged
  * parquet). This matches the reference, where ExecutionService
  * writes go through one scheduler process. Fan multiple recording
  * processes through a queue or per-writer ledger paths merged on
  * read; do NOT share one ledger path between concurrent writers.
  */
final class RunLedger(spark: SparkSession, path: String) {

  private val key = Seq("run_id")

  private val runSchema = StructType(Seq(
    StructField("run_id", LongType, nullable = false),
    StructField("target", StringType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("started_ms", LongType),
    StructField("finished_ms", LongType),
    StructField("rows_loaded", LongType),
    StructField("error", StringType)))

  val Statuses: Set[String] =
    Set("pending", "running", "success", "failed", "cancelled")

  /** Record (or update) a run — one merge on run_id. */
  def record(
      runId: Long,
      target: String,
      status: String,
      startedMs: Option[Long] = None,
      finishedMs: Option[Long] = None,
      rowsLoaded: Option[Long] = None,
      error: Option[String] = None): Unit = {
    require(Statuses.contains(status), s"unknown run status: $status")
    val row = Row(runId, target, status,
      startedMs.map(Long.box).orNull, finishedMs.map(Long.box).orNull,
      rowsLoaded.map(Long.box).orNull, error.orNull)
    Writer.write(spark,
      spark.createDataFrame(java.util.Arrays.asList(row), runSchema),
      path, "merge", key)
  }

  private def exists: Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** All runs, optionally filtered (reference list_runs filters). */
  def list(
      target: Option[String] = None,
      status: Option[String] = None): DataFrame = {
    val all =
      if (exists) Tables.parquet(spark, path)
      else spark.createDataFrame(new java.util.ArrayList[Row](), runSchema)
    val t = target.fold(all)(v => all.filter(col("target") === v))
    status.fold(t)(v => t.filter(col("status") === v))
  }

  /** Upstream dependency check: each target is satisfied iff it has a
    * SUCCESS run finishing within `timeframeMs` of `nowMs`. One scan
    * of the ledger regardless of target count.
    */
  def checkUpstream(
      targets: Seq[String],
      timeframeMs: Long,
      nowMs: Long): DataFrame = {
    val wanted = spark.createDataFrame(
      java.util.Arrays.asList(targets.map(Row(_)): _*),
      StructType(Seq(StructField("target", StringType, nullable = false))))
    val recent = list(status = Some("success"))
      // closed window [now - timeframe, now]: a future-stamped run
      // (clock skew, bad replay) must not satisfy the check
      .filter(col("finished_ms") >= nowMs - timeframeMs &&
        col("finished_ms") <= nowMs)
      .groupBy("target")
      .agg(max(col("finished_ms")).as("last_success_ms"))
    wanted.join(recent, Seq("target"), "left")
      .select(col("target"),
        col("last_success_ms").isNotNull.as("satisfied"),
        col("last_success_ms"))
  }
}
