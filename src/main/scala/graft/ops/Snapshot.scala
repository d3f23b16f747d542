package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SCD2 snapshots — the reference's dbt snapshots with `timestamp`
  * and `check` strategies (datanika `services/dbt_project.py:529-580`:
  * unique_key, strategy, updated_at, check_cols).
  *
  * A snapshot application is one full-outer join between the open
  * slice of the history and the new state, keyed on `unique_key` —
  * a single hash shuffle, no iteration. History columns follow dbt:
  * `valid_from`, `valid_to` (NULL = current row).
  *
  * Scale note: the closed slice of the history is untouched (it is
  * unioned back without a shuffle), so repeated snapshot runs on a
  * 100 TB history only shuffle the open rows + the new state.
  */
object Snapshot {
  val ValidFrom = "valid_from"
  val ValidTo = "valid_to"

  /** timestamp strategy: a key is "changed" when the new state's
    * `updatedAt` is strictly newer; `valid_from` of a version is its
    * own `updatedAt` (dbt semantics).
    */
  def timestamp(
      existing: Option[DataFrame],
      current: DataFrame,
      uniqueKey: Seq[String],
      updatedAt: String): DataFrame =
    apply(existing, current, uniqueKey,
      changed = (o, c) => c(updatedAt) > o(updatedAt),
      newValidFrom = c => c(updatedAt),
      closeAt = c => c(updatedAt))

  /** check strategy: a key is "changed" when any of `checkCols`
    * differs (null-safe); versions are stamped with the run
    * timestamp `runTs` (dbt uses the snapshot run's now()— passed
    * explicitly here so runs are reproducible).
    */
  def check(
      existing: Option[DataFrame],
      current: DataFrame,
      uniqueKey: Seq[String],
      checkCols: Seq[String],
      runTs: Column): DataFrame =
    apply(existing, current, uniqueKey,
      changed = (o, c) => !(struct(checkCols.map(o): _*) <=> struct(checkCols.map(c): _*)),
      newValidFrom = _ => runTs,
      closeAt = _ => runTs)

  private def apply(
      existing: Option[DataFrame],
      current: DataFrame,
      uniqueKey: Seq[String],
      changed: (String => Column, String => Column) => Column,
      newValidFrom: (String => Column) => Column,
      closeAt: (String => Column) => Column): DataFrame = {

    val payload = current.columns.toSeq
    existing match {
      case None =>
        val withFrom = current.withColumn(ValidFrom, newValidFrom(c => col(c)))
        withFrom.withColumn(ValidTo,
          lit(null).cast(withFrom.schema(ValidFrom).dataType))
      case Some(hist) =>
        // ONE pass over the whole history: the join condition matches
        // current rows against OPEN history rows only (valid_to IS
        // NULL), so closed rows flow through as unmatched-left.
        // Each joined row then emits 1 output row (pass-through /
        // unchanged / brand-new) or 2 (changed: close old + open new)
        // via a single explode — the join subtree is planned and
        // executed exactly once per snapshot application.
        val vfType = hist.schema(ValidFrom).dataType

        // presence markers survive the outer join even if payload
        // columns are legitimately null
        val o = hist.withColumn("__o", lit(1)).alias("o")
        val c = current.withColumn("__c", lit(1)).alias("c")
        def oc(name: String): Column = col(s"o.$name")
        def cc(name: String): Column = col(s"c.$name")
        val joinCond =
          uniqueKey.map(k => oc(k) <=> cc(k)).reduce(_ && _) && oc(ValidTo).isNull
        val j = o.join(c, joinCond, "full_outer")

        val isChanged = changed(oc, cc)

        def rec(vals: Seq[Column]): Column =
          struct(vals.zip(payload :+ ValidFrom :+ ValidTo)
            .map { case (v, n) => v.as(n) }: _*)
        val oldAsIs = rec(payload.map(oc) :+ oc(ValidFrom) :+ oc(ValidTo))
        val closedOld = rec(payload.map(oc) :+ oc(ValidFrom) :+ closeAt(cc))
        val newOpen = rec(payload.map(cc) :+ newValidFrom(cc)
          :+ lit(null).cast(vfType))

        j.select(explode(
            when(cc("__c").isNull, array(oldAsIs))       // closed or departed
              .when(oc("__o").isNull, array(newOpen))    // brand-new key
              .when(isChanged, array(closedOld, newOpen))
              .otherwise(array(oldAsIs)))                // unchanged open
            .as("r"))
          .select("r.*")
    }
  }

  /** SCD TYPE 3 apply — the previous-value column pattern between
    * type 1 (overwrite, q05) and type 2 (full history, [[timestamp]]/
    * [[check]]): the dimension keeps ONE step of history inline
    * (value, prev_value), the shape BI tools want for
    * "current vs previous segment" columns without a history join.
    *
    * Semantics per key: new key → (batch value, null prev); value
    * unchanged (null-safe) → row unchanged; value changed → batch
    * value with the old value shifted into prev_value; key absent
    * from the batch → retained as-is (dimensions outlive one load).
    * One full-outer hash join on the key; output ∝ dimension.
    *
    * @param current (key..., valueCol, prev_value) — pass prev_value
    *   null on first load.
    * @param batch   (key..., valueCol) — at most one row per key
    *   (caller dedups, q05's contract).
    */
  def scd3(current: DataFrame, batch: DataFrame, key: Seq[String],
      valueCol: String): DataFrame = {
    require(key.nonEmpty, "key must be non-empty")
    val c = current.select((key :+ valueCol :+ "prev_value").map(col): _*)
      .withColumn("_c", lit(1))
    val b = batch.select((key :+ valueCol).map(col): _*)
      .withColumn("_b", lit(1))
    val joined = c.as("c").join(b.as("b"),
      key.map(k => col(s"c.$k") <=> col(s"b.$k")).reduce(_ && _),
      "full_outer")
    val changed = col("_c").isNotNull && col("_b").isNotNull &&
      !(col(s"c.$valueCol") <=> col(s"b.$valueCol"))
    joined.select(
      key.map(k => coalesce(col(s"b.$k"), col(s"c.$k")).as(k)) ++ Seq(
        when(col("_b").isNotNull, col(s"b.$valueCol"))
          .otherwise(col(s"c.$valueCol")).as(valueCol),
        when(changed, col(s"c.$valueCol"))
          .when(col("_c").isNotNull, col("c.prev_value"))
          .otherwise(lit(null)).as("prev_value")): _*)
  }

  /** Point-in-time read of an SCD2 history — "the table AS OF `at`"
    * (the lakehouse TIMESTAMP-AS-OF primitive, answered from the
    * history the snapshot strategies build; the reference's dbt
    * snapshots, datanika `services/dbt_project.py:529-580`, exist
    * precisely to answer this question). One row per key whose
    * validity interval contains `at`: `valid_from <= at < valid_to`,
    * open rows (`valid_to IS NULL`) unbounded on the right. Keys
    * first seen after `at` are absent — the table didn't hold them
    * then.
    *
    * Scale shape: a pure scan-level predicate — no shuffle, no join;
    * on a partitioned/sorted history (e.g. Z-ordered on valid_from)
    * it prunes to the files overlapping `at`.
    */
  def asOf(history: DataFrame, at: Column): DataFrame =
    history.filter(col(ValidFrom) <= at &&
      (col(ValidTo).isNull || col(ValidTo) > at))

  /** Drop a persisted snapshot history — the reference's
    * `remove_snapshot` (datanika `services/dbt_project.py:612-620`:
    * delete the snapshot file, True if it existed). Here the history
    * parquet dir is the artifact.
    */
  def remove(spark: org.apache.spark.sql.SparkSession, historyPath: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(historyPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.delete(p, true)
  }
}
