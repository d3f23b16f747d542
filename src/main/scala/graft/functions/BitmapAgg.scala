package graft.functions

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.io.ByteArrayInputStream

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Mergeable EXACT distinct-count state as a first-class aggregate —
  * the bitmap-index trick warehouse engines (ClickHouse
  * groupBitmapState, Doris BITMAP_UNION, Druid) use when
  * `approx_count_distinct` (q45's HLL) isn't allowed to be
  * approximate:
  *
  *  - `count(DISTINCT x)` re-reads the fact table for every rollup
  *    level and cannot be re-aggregated: per-day distincts do NOT sum
  *    to the per-month distinct.
  *  - a BITMAP of the observed ids is exact AND merges by bitwise OR,
  *    so per-(key, day) states persisted once answer every coarser
  *    rollup (per-key, global, arbitrary day ranges) WITHOUT touching
  *    a raw row again — the same merge-don't-rescan shape as q114's
  *    KLL sketches, but lossless.
  *
  * The state is a roaring-style two-level bitmap over signed 64-bit
  * values (chunk key = value >> 16; within a chunk, cardinality
  * ≤ 4096 keeps a sorted u16 array, beyond that an 8 KiB bit set —
  * Chambi et al. 2016's array/bitmap container split). Dense id
  * spaces cost ~1 bit per id; sparse ones ~2 bytes per id — always ≤
  * the equivalent sorted id list, and independent of row count (a
  * user with 10k events is one bit). The container is written here,
  * not taken from the RoaringBitmap jar Spark ships, because of its
  * BYTES: the canonical serialization below is the persisted state
  * format (`BitmapAggSpec` pins it), and RoaringBitmap's own
  * serialization is a different one.
  *
  * Serialization is canonical (chunks ascending, array containers
  * sorted), so equal SETS produce equal BYTES regardless of insertion
  * or merge order — states are safe to hash-compare and diff across
  * jobs.
  *
  * Scale notes (100 TB): the aggregate is a
  * `TypedImperativeAggregate`, so per-partition partials build
  * map-side and merge up the normal two-phase agg tree; nothing is
  * ever collected to the driver. State size is bounded by the
  * DISTINCT id population per group (65 M ids ≈ 8 MiB worst-case
  * dense), not by row count; for id universes too wide even for
  * that, fall back to q45's HLL and accept the error bar.
  */
object BitmapAgg {

  /** One-pass state build over a long column → canonical bitmap
    * bytes (null when no non-null input, like BloomFilterAggregate).
    */
  def bitmapBuild(c: Column): Column =
    column(BitmapBuildAgg(expression(c.cast("long"))).toAggregateExpression())

  /** OR previously-built states (binary column) → combined state.
    * The re-aggregation path: persisted per-shard/per-day states
    * combine without re-reading any raw row.
    */
  def bitmapMerge(states: Column): Column =
    column(BitmapMergeAgg(expression(states)).toAggregateExpression())

  /** Exact cardinality of a state: binary → long. */
  def bitmapCardinality(state: Column): Column =
    column(BitmapCardinalityExpr(expression(state)))

  /** Exact |A ∩ B| of two states — the set-overlap primitive behind
    * joinability/containment discovery (q198): never materializes
    * the intersection, walks the shared chunks only.
    */
  def bitmapAndCardinality(a: Column, b: Column): Column =
    column(BitmapAndCardinalityExpr(expression(a), expression(b)))
}

/** Two-level bitmap over signed longs: chunk (high 48 bits, signed)
  * → container of the 65536 low-bit positions. Mutable, single-
  * threaded per aggregation buffer (Spark's contract).
  */
private[functions] final class Bitmap64 {

  /** chunk key → either a sorted char array (cardinality ≤ ArrayCap)
    * or a long[1024] bit set. Stored as Any to avoid boxing two map
    * fields; the type tag is the runtime class.
    */
  private val chunks = mutable.LongMap.empty[AnyRef]

  import Bitmap64.ArrayCap

  def add(v: Long): Unit = {
    val key = v >> 16
    val low = (v & 0xffffL).toInt
    chunks.get(key) match {
      case None =>
        chunks(key) = Array(low.toChar)
      case Some(a: Array[Char]) =>
        val idx = java.util.Arrays.binarySearch(a, low.toChar)
        if (idx < 0) {
          if (a.length < ArrayCap) {
            val ins = -idx - 1
            val b = new Array[Char](a.length + 1)
            System.arraycopy(a, 0, b, 0, ins)
            b(ins) = low.toChar
            System.arraycopy(a, ins, b, ins + 1, a.length - ins)
            chunks(key) = b
          } else {
            val bits = Bitmap64.toBits(a)
            bits(low >>> 6) |= 1L << (low & 63)
            chunks(key) = bits
          }
        }
      case Some(bits: Array[Long]) =>
        bits(low >>> 6) |= 1L << (low & 63)
      case Some(other) =>
        throw new IllegalStateException(s"bad container: $other")
    }
  }

  def or(other: Bitmap64): Unit =
    other.chunks.foreach { case (key, oc) =>
      chunks.get(key) match {
        case None =>
          // copy: the other buffer may be reused/mutated by Spark
          chunks(key) = oc match {
            case a: Array[Char] => a.clone()
            case b: Array[Long] => b.clone()
          }
        case Some(mine) => chunks(key) = Bitmap64.orContainers(mine, oc)
      }
    }

  def cardinality: Long =
    chunks.values.map {
      case a: Array[Char] => a.length.toLong
      case b: Array[Long] =>
        var i = 0; var n = 0L
        while (i < b.length) { n += java.lang.Long.bitCount(b(i)); i += 1 }
        n
    }.sum

  def isEmpty: Boolean = chunks.isEmpty

  /** |this ∩ other| without materializing the intersection: walk the
    * smaller chunk map, probe the larger, count per-container.
    */
  def andCardinality(other: Bitmap64): Long = {
    val (small, big) =
      if (chunks.size <= other.chunks.size) (this, other) else (other, this)
    var n = 0L
    small.chunks.foreach { case (key, sc) =>
      big.chunks.get(key).foreach { bc =>
        n += Bitmap64.andCount(sc, bc)
      }
    }
    n
  }

  /** Canonical bytes: chunk count, then chunks ascending by key, each
    * as (key, tag, payload). Equal sets ⇒ equal bytes.
    */
  def serialize(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(chunks.size)
    chunks.keys.toArray.sorted.foreach { key =>
      out.writeLong(key)
      chunks(key) match {
        case a: Array[Char] =>
          out.writeByte(0)
          out.writeInt(a.length)
          a.foreach(c => out.writeChar(c))
        case b: Array[Long] =>
          out.writeByte(1)
          b.foreach(out.writeLong)
      }
    }
    out.flush()
    bos.toByteArray
  }
}

private[functions] object Bitmap64 {

  /** Array-container cap before promotion to a bit set: at 4096 the
    * char array (8 KiB) matches the bit set's fixed cost, the same
    * crossover RoaringBitmap uses.
    */
  val ArrayCap = 4096

  def deserialize(bytes: Array[Byte]): Bitmap64 = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val bm = new Bitmap64
    val n = in.readInt()
    (1 to n).foreach { _ =>
      val key = in.readLong()
      val tag = in.readByte()
      val c: AnyRef =
        if (tag == 0) {
          val len = in.readInt()
          val a = new Array[Char](len)
          var i = 0
          while (i < len) { a(i) = in.readChar(); i += 1 }
          a
        } else {
          val b = new Array[Long](1024)
          var i = 0
          while (i < 1024) { b(i) = in.readLong(); i += 1 }
          b
        }
      bm.chunks(key) = c
    }
    bm
  }

  private[functions] def toBits(a: Array[Char]): Array[Long] = {
    val bits = new Array[Long](1024)
    a.foreach { c => bits(c >>> 6) |= 1L << (c & 63) }
    bits
  }

  private def fromBitsIfSmall(bits: Array[Long]): AnyRef = {
    var i = 0; var n = 0
    while (i < bits.length) { n += java.lang.Long.bitCount(bits(i)); i += 1 }
    if (n > ArrayCap) bits
    else {
      val a = new Array[Char](n)
      var w = 0; var word = 0
      while (word < bits.length) {
        var b = bits(word)
        while (b != 0) {
          val bit = java.lang.Long.numberOfTrailingZeros(b)
          a(w) = ((word << 6) | bit).toChar
          w += 1
          b &= b - 1
        }
        word += 1
      }
      a
    }
  }

  /** Intersection cardinality of two containers. */
  def andCount(x: AnyRef, y: AnyRef): Long = (x, y) match {
    case (a: Array[Char], b: Array[Char]) =>
      var i = 0; var j = 0; var n = 0L
      while (i < a.length && j < b.length) {
        if (a(i) < b(j)) i += 1
        else if (a(i) > b(j)) j += 1
        else { n += 1; i += 1; j += 1 }
      }
      n
    case (a: Array[Char], b: Array[Long]) => andCount(b, a)
    case (a: Array[Long], b: Array[Char]) =>
      var j = 0; var n = 0L
      while (j < b.length) {
        val c = b(j)
        if ((a(c >>> 6) & (1L << (c & 63))) != 0) n += 1
        j += 1
      }
      n
    case (a: Array[Long], b: Array[Long]) =>
      var i = 0; var n = 0L
      while (i < 1024) {
        n += java.lang.Long.bitCount(a(i) & b(i)); i += 1
      }
      n
  }

  /** OR two containers; result demotes back to an array when the
    * union is small enough, so canonical serialization never depends
    * on merge history.
    */
  def orContainers(x: AnyRef, y: AnyRef): AnyRef = (x, y) match {
    case (a: Array[Char], b: Array[Char]) =>
      // sorted-merge union
      val out = new Array[Char](a.length + b.length)
      var i = 0; var j = 0; var w = 0
      while (i < a.length && j < b.length) {
        if (a(i) < b(j)) { out(w) = a(i); i += 1 }
        else if (a(i) > b(j)) { out(w) = b(j); j += 1 }
        else { out(w) = a(i); i += 1; j += 1 }
        w += 1
      }
      while (i < a.length) { out(w) = a(i); i += 1; w += 1 }
      while (j < b.length) { out(w) = b(j); j += 1; w += 1 }
      val merged = java.util.Arrays.copyOf(out, w)
      if (w <= ArrayCap) merged else toBits(merged)
    case (a: Array[Char], b: Array[Long]) => orContainers(b, a)
    case (a: Array[Long], b: Array[Char]) =>
      val bits = a.clone()
      b.foreach { c => bits(c >>> 6) |= 1L << (c & 63) }
      fromBitsIfSmall(bits)
    case (a: Array[Long], b: Array[Long]) =>
      val bits = new Array[Long](1024)
      var i = 0
      while (i < 1024) { bits(i) = a(i) | b(i); i += 1 }
      fromBitsIfSmall(bits)
  }
}

/** Build aggregate: update with longs, partials OR associatively,
  * result is the canonical serialized bitmap.
  */
case class BitmapBuildAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Bitmap64] with UnaryLike {

  override def createAggregationBuffer(): Bitmap64 = new Bitmap64

  override def update(buf: Bitmap64, input: InternalRow): Bitmap64 = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: Bitmap64, other: Bitmap64): Bitmap64 = {
    buf.or(other)
    buf
  }

  override def eval(buf: Bitmap64): Any =
    if (buf.isEmpty) null else buf.serialize()

  override def serialize(buf: Bitmap64): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): Bitmap64 =
    Bitmap64.deserialize(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "bitmap_build"
  override def withNewMutableAggBufferOffset(o: Int): BitmapBuildAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BitmapBuildAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): BitmapBuildAgg =
    copy(child = c)
}

/** Merge aggregate over already-serialized states: input rows ARE
  * bitmaps, so persisted per-day/per-shard states re-aggregate
  * without seeing a raw id.
  */
case class BitmapMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Bitmap64] with UnaryLike {

  override def createAggregationBuffer(): Bitmap64 = new Bitmap64

  override def update(buf: Bitmap64, input: InternalRow): Bitmap64 = {
    val v = child.eval(input)
    if (v != null)
      buf.or(Bitmap64.deserialize(v.asInstanceOf[Array[Byte]]))
    buf
  }

  override def merge(buf: Bitmap64, other: Bitmap64): Bitmap64 = {
    buf.or(other)
    buf
  }

  override def eval(buf: Bitmap64): Any =
    if (buf.isEmpty) null else buf.serialize()

  override def serialize(buf: Bitmap64): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): Bitmap64 =
    Bitmap64.deserialize(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "bitmap_merge"
  override def withNewMutableAggBufferOffset(o: Int): BitmapMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BitmapMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): BitmapMergeAgg =
    copy(child = c)
}

/** Exact intersection cardinality of two serialized states.
  * Evaluated on pairs of already-aggregated states (metadata-sized
  * rows), so CodegenFallback costs nothing.
  */
case class BitmapAndCardinalityExpr(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
  with CodegenFallback {

  override def nullSafeEval(a: Any, b: Any): Any =
    Bitmap64.deserialize(a.asInstanceOf[Array[Byte]])
      .andCardinality(Bitmap64.deserialize(b.asInstanceOf[Array[Byte]]))

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "bitmap_and_cardinality"
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): BitmapAndCardinalityExpr =
    copy(left = l, right = r)
}

/** Exact cardinality of serialized state. Evaluated once per GROUP
  * row, so CodegenFallback costs nothing (FreqTopKExpr's
  * precedent).
  */
case class BitmapCardinalityExpr(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def nullSafeEval(input: Any): Any =
    Bitmap64.deserialize(input.asInstanceOf[Array[Byte]]).cardinality

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "bitmap_cardinality"
  override protected def withNewChildInternal(c: Expression): BitmapCardinalityExpr =
    copy(child = c)
}
