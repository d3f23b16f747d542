package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive result fingerprint: the row count and the exact
  * sum of a 64-bit hash of every row. The hash reads every output
  * column, so Catalyst cannot prune the operators that produce them;
  * the sum is taken as decimal, so it cannot overflow under ANSI.
  */
object Fingerprint {
  private def hashable(c: Column, t: DataType): Column = t match {
    // xxhash64 refuses maps; hash their entries in key order instead
    case m: MapType if !containsMap(m.keyType) && !containsMap(m.valueType) =>
      array_sort(map_entries(c))
    case _ if containsMap(t) => to_json(c)
    case _ => c
  }

  private def containsMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => containsMap(a.elementType)
    case s: StructType => s.fields.exists(f => containsMap(f.dataType))
    case _ => false
  }

  /** The one-row frame `(n, h)` whose action consumes the whole result. */
  def frame(df: DataFrame): DataFrame = {
    // positional renames: duplicate or dotted output names stay unambiguous
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.select(h.cast(DecimalType(20, 0)).as("h"))
      .agg(count(lit(1)).as("n"), coalesce(sum("h"), lit(BigDecimal(0))).as("h"))
  }

  /** `"<rows>:<hash sum>"` from the collected frame. */
  def read(rows: Array[org.apache.spark.sql.Row]): (Long, String) = {
    val r = rows.head
    (r.getLong(0), s"${r.getLong(0)}:${r.getDecimal(1).toPlainString}")
  }
}
