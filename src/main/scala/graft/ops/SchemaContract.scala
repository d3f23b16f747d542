package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Schema contracts — the reference's dlt `schema_contract` setting:
  * entities {tables, columns, data_type} × modes {evolve, freeze,
  * discard_value, discard_row} (datanika
  * `services/upload_service.py:17-18,212-225`).
  *
  * Re-expressed relationally: a contract is a projection/filter over
  * the incoming batch against a target schema — never a row-at-a-time
  * callback — so enforcement is codegen'd and costs one scan.
  */
object SchemaContract {
  sealed trait Mode
  case object Evolve extends Mode
  case object Freeze extends Mode
  case object DiscardValue extends Mode
  case object DiscardRow extends Mode

  object Mode {
    def parse(s: String): Mode = s match {
      case "evolve" => Evolve
      case "freeze" => Freeze
      case "discard_value" => DiscardValue
      case "discard_row" => DiscardRow
      case other => throw new IllegalArgumentException(s"Unknown contract mode: $other")
    }
  }

  final class ContractViolation(msg: String) extends RuntimeException(msg)

  /** `columns` entity: what happens when the batch carries columns the
    * target table doesn't know.
    *  - evolve: keep them (target gains columns; union-by-name fills null)
    *  - freeze: refuse the batch
    *  - discard_value: silently drop the unknown columns
    *  - discard_row: drop rows that actually carry a value in any
    *    unknown column, then project to the known columns
    */
  def applyColumns(targetCols: Seq[String], incoming: DataFrame, mode: Mode): DataFrame = {
    val known = targetCols.toSet
    val unknown = incoming.columns.filterNot(known.contains).toSeq
    if (unknown.isEmpty) return incoming
    mode match {
      case Evolve => incoming
      case Freeze =>
        throw new ContractViolation(
          s"columns contract frozen; batch has new columns: ${unknown.mkString(", ")}")
      case DiscardValue =>
        incoming.select(incoming.columns.filter(known.contains).map(col): _*)
      case DiscardRow =>
        val carriesValue: Column = unknown.map(c => col(c).isNotNull).reduce(_ || _)
        incoming.filter(!carriesValue)
          .select(incoming.columns.filter(known.contains).map(col): _*)
    }
  }

  /** `data_type` entity: what happens when a value doesn't fit the
    * declared column type. Cast failures are detected with `try_cast`
    * (null out) against "was non-null before the cast".
    *  - evolve: pass through (the column type widens downstream)
    *  - freeze: refuse the batch if any value fails
    *  - discard_value: failed values become NULL
    *  - discard_row: rows with any failed value are dropped
    */
  def applyTypes(target: Map[String, DataType], incoming: DataFrame, mode: Mode): DataFrame = {
    val casts = target.toSeq.filter { case (c, _) => incoming.columns.contains(c) }
    if (casts.isEmpty) return incoming
    val anyFailed = casts.map { case (c, dt) => castFailed(c, dt) }.reduce(_ || _)

    mode match {
      case Evolve => incoming
      case Freeze =>
        val n = incoming.filter(anyFailed).limit(1).count()
        if (n > 0) throw new ContractViolation("data_type contract frozen; batch has uncastable values")
        castAll(incoming, casts)
      case DiscardValue => castAll(incoming, casts)
      case DiscardRow => castAll(incoming.filter(!anyFailed), casts)
    }
  }

  private def tryCast(c: String, dt: DataType): Column =
    expr(s"try_cast(`$c` AS ${dt.sql})")

  private def castFailed(c: String, dt: DataType): Column =
    col(c).isNotNull && tryCast(c, dt).isNull

  /** Single-pass violation probe across BOTH contract entities: one
    * aggregate (one scan) answering "how many rows carry values in
    * unknown columns" (columns entity) and "how many rows have
    * uncastable values" (data_type entity), plus the total. All
    * discard/freeze outcome counts derive arithmetically from these
    * three numbers — a 100 TB batch is probed in one scan, not one
    * scan per contract mode.
    */
  def violationProbe(
      targetCols: Seq[String],
      types: Map[String, DataType],
      incoming: DataFrame): DataFrame = {
    val known = targetCols.toSet
    val unknown = incoming.columns.filterNot(known.contains).toSeq
    val carriesValue: Column =
      if (unknown.isEmpty) lit(false)
      else unknown.map(c => col(c).isNotNull).reduce(_ || _)
    val casts = types.toSeq.filter { case (c, _) => incoming.columns.contains(c) }
    val anyFailed: Column =
      if (casts.isEmpty) lit(false)
      else casts.map { case (c, dt) => castFailed(c, dt) }.reduce(_ || _)
    incoming.agg(
      count(lit(1)).as("total_rows"),
      sum(when(carriesValue, 1L).otherwise(0L)).as("unknown_value_rows"),
      sum(when(anyFailed, 1L).otherwise(0L)).as("type_failed_rows"))
  }

  private def castAll(df: DataFrame, casts: Seq[(String, DataType)]): DataFrame =
    casts.foldLeft(df) { case (d, (c, dt)) => d.withColumn(c, tryCast(c, dt)) }

  /** Evolve-union two table states (the `tables`/`columns` evolve
    * path): union by name, missing columns null on either side.
    */
  def evolveUnion(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b, allowMissingColumns = true)
}
