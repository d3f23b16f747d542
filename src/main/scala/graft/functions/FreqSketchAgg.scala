package graft.functions

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.memory.Memory

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable heavy-hitters sketches (Misra-Gries / space-saving as
  * implemented by DataSketches' frequent-items sketch) — the "what
  * are the top tokens/domains/keys in 100 TB" primitive:
  *
  *  - an exact `groupBy(item).count.orderBy` answers it with a
  *    full-vocabulary shuffle and must re-read everything for each
  *    new slice of the data;
  *  - the sketch is one pass, bounded memory (`maxMapSize` counters
  *    regardless of distinct-item count), and MERGES: per-shard /
  *    per-day partials persist as bytes and re-aggregate later
  *    without touching rows — same artifact discipline as the KLL
  *    quantile sketches (`SketchAgg`).
  *
  * Error contract (Misra-Gries): with n items processed and map size
  * m, every estimate satisfies `true ≤ estimate ≤ true + n·ε(m)`
  * (library-reported per-sketch as `getMaximumError`), and no item
  * with true count > n·ε(m) is missed under NO_FALSE_NEGATIVES.
  * While the distinct-item count stays under the purge threshold the
  * sketch is EXACT (maximumError 0) — which is what makes a
  * deterministic DuckDB oracle possible on a bounded vocabulary while
  * the spec stresses the purge path with a synthetic skew.
  *
  * Exposed like SketchAgg: the aggregate VALUE is the serialized
  * sketch, so it is a persistable, re-mergeable artifact, not a
  * hidden buffer.
  */
object FreqSketchAgg {

  /** Counter-map capacity; must be a power of 2 (library rule).
    * 128 counters track ~ the top-43 reliably (m/3 rule of thumb).
    */
  val DefaultMaxMapSize = 128

  private[functions] val serde = new ArrayOfStringsSerDe()

  /** One-pass sketch build over a string column → binary sketch. */
  def freqSketch(c: Column, maxMapSize: Int = DefaultMaxMapSize): Column =
    column(FreqSketchBuildAgg(expression(c), maxMapSize)
      .toAggregateExpression())

  /** Merge previously-built sketches (binary column) → binary sketch:
    * the re-aggregation path — no raw item is ever revisited.
    */
  def freqMerge(sketches: Column, maxMapSize: Int = DefaultMaxMapSize): Column =
    column(FreqMergeAgg(expression(sketches), maxMapSize)
      .toAggregateExpression())

  /** Top-k heavy hitters from a built sketch, NO_FALSE_NEGATIVES:
    * array of (item, estimate, lower_bound, upper_bound), ordered by
    * estimate desc then item asc (deterministic tiebreak).
    */
  def freqTopK(sketch: Column, k: Int): Column =
    column(FreqTopKExpr(expression(sketch), k))

  private[functions] def heapified(bytes: Array[Byte]): ItemsSketch[String] =
    ItemsSketch.getInstance(Memory.wrap(bytes), serde)

  private[functions] def newSketch(maxMapSize: Int): ItemsSketch[String] = {
    require(maxMapSize >= 2 && Integer.bitCount(maxMapSize) == 1,
      s"maxMapSize must be a power of 2 >= 2, got $maxMapSize")
    new ItemsSketch[String](maxMapSize)
  }
}

/** Build aggregate: update with strings, partials merge
  * associatively, result is the serialized sketch (null when no
  * non-null input — the SketchAgg convention).
  */
case class FreqSketchBuildAgg(
    child: Expression,
    maxMapSize: Int = FreqSketchAgg.DefaultMaxMapSize,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ItemsSketch[String]] with UnaryLike {

  override def createAggregationBuffer(): ItemsSketch[String] =
    FreqSketchAgg.newSketch(maxMapSize)

  override def update(buf: ItemsSketch[String], input: InternalRow): ItemsSketch[String] = {
    val v = child.eval(input)
    if (v != null) buf.update(v.toString)
    buf
  }

  override def merge(buf: ItemsSketch[String], other: ItemsSketch[String]): ItemsSketch[String] = {
    buf.merge(other)
    buf
  }

  override def eval(buf: ItemsSketch[String]): Any =
    if (buf.isEmpty) null else buf.toByteArray(FreqSketchAgg.serde)

  override def serialize(buf: ItemsSketch[String]): Array[Byte] =
    buf.toByteArray(FreqSketchAgg.serde)
  override def deserialize(bytes: Array[Byte]): ItemsSketch[String] =
    FreqSketchAgg.heapified(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "freq_sketch"
  override def withNewMutableAggBufferOffset(o: Int): FreqSketchBuildAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FreqSketchBuildAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): FreqSketchBuildAgg =
    copy(child = c)
}

/** Merge aggregate over already-serialized sketches (binary input
  * rows ARE sketches) — combines a fleet of per-shard profiles.
  */
case class FreqMergeAgg(
    child: Expression,
    maxMapSize: Int = FreqSketchAgg.DefaultMaxMapSize,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ItemsSketch[String]] with UnaryLike {

  override def createAggregationBuffer(): ItemsSketch[String] =
    FreqSketchAgg.newSketch(maxMapSize)

  override def update(buf: ItemsSketch[String], input: InternalRow): ItemsSketch[String] = {
    val v = child.eval(input)
    if (v != null)
      buf.merge(FreqSketchAgg.heapified(v.asInstanceOf[Array[Byte]]))
    buf
  }

  override def merge(buf: ItemsSketch[String], other: ItemsSketch[String]): ItemsSketch[String] = {
    buf.merge(other)
    buf
  }

  override def eval(buf: ItemsSketch[String]): Any =
    if (buf.isEmpty) null else buf.toByteArray(FreqSketchAgg.serde)

  override def serialize(buf: ItemsSketch[String]): Array[Byte] =
    buf.toByteArray(FreqSketchAgg.serde)
  override def deserialize(bytes: Array[Byte]): ItemsSketch[String] =
    FreqSketchAgg.heapified(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "freq_merge"
  override def withNewMutableAggBufferOffset(o: Int): FreqMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FreqMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): FreqMergeAgg =
    copy(child = c)
}

/** Heavy-hitter extraction from sketch bytes — evaluated once per
  * group, so CodegenFallback costs nothing (the per-row hot path is
  * the aggregates above).
  */
case class FreqTopKExpr(child: Expression, k: Int)
  extends UnaryExpression with CodegenFallback {

  require(k > 0, s"k must be positive, got $k")

  override def nullSafeEval(input: Any): Any = {
    val sk = FreqSketchAgg.heapified(input.asInstanceOf[Array[Byte]])
    if (sk.isEmpty) return null
    val rows = sk.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
      .sortBy(r => (-r.getEstimate, r.getItem))
      .take(k)
      .map { r =>
        InternalRow(UTF8String.fromString(r.getItem),
          r.getEstimate, r.getLowerBound, r.getUpperBound)
      }
    new GenericArrayData(rows.asInstanceOf[Array[Any]])
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("estimate", LongType, nullable = false),
    StructField("lower_bound", LongType, nullable = false),
    StructField("upper_bound", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "freq_top_k"
  override protected def withNewChildInternal(c: Expression): FreqTopKExpr =
    copy(child = c)
}

/** Minimal UnaryLike for graft's aggregates (FreqSketchAgg, BitmapAgg,
  * CovMomentsAgg): TypedImperativeAggregate doesn't fix arity.
  */
private[functions] trait UnaryLike { self: TypedImperativeAggregate[_] =>
  def child: Expression
  final override def children: Seq[Expression] = Seq(child)
  protected def withNewChildInternal(c: Expression): Expression
  final override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): Expression = withNewChildInternal(cs.head)
}
