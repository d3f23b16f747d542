package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Native Catalyst expressions for the vector hot loops (cosine and
  * random-hyperplane sign codes). Same rationale as TextHashExprs:
  * the HOF formulation pays an interpreted lambda per element — a
  * 16-plane × 64-dim sign code is ~1k lambda evaluations per row;
  * here it is one fused loop inside whole-stage codegen.
  *
  * Works on `array<float>` or `array<double>` inputs (parquet
  * embeddings are float).
  */
object VectorExprs {

  private def toDoubles(a: ArrayData, isFloat: Boolean): (Int, Int => Double) =
    (a.numElements(), if (isFloat) (i: Int) => a.getFloat(i).toDouble
      else (i: Int) => a.getDouble(i))

  def cosineEval(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val (na0, ga) = toDoubles(a, aFloat)
    val (nb0, gb) = toDoubles(b, bFloat)
    val n = math.min(na0, nb0) // tolerate ragged inputs like zip_with
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = ga(i); val y = gb(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  def signCodeEval(v: ArrayData, planes: Array[Array[Double]], isFloat: Boolean): Long = {
    val (n, g) = toDoubles(v, isFloat)
    var code = 0L
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      var d = 0.0
      var i = 0
      val m = math.min(n, plane.length)
      while (i < m) { d += g(i) * plane(i); i += 1 }
      if (d >= 0) code |= (1L << p)
      p += 1
    }
    code
  }

  def nearestCentroidEval(v: ArrayData, cents: Array[Array[Double]], isFloat: Boolean): Int = {
    val (n, g) = toDoubles(v, isFloat)
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var d = 0.0
      var i = 0
      val m = math.min(n, cent.length)
      while (i < m) { val t = g(i) - cent(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  def secondNearestCentroidEval(v: ArrayData, cents: Array[Array[Double]], isFloat: Boolean): Int = {
    val (n, g) = toDoubles(v, isFloat)
    var best = 0; var second = -1
    var bestD = Double.MaxValue; var secondD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var d = 0.0
      var i = 0
      val m = math.min(n, cent.length)
      while (i < m) { val t = g(i) - cent(i); d += t * t; i += 1 }
      if (d < bestD) {
        secondD = bestD; second = best
        bestD = d; best = c
      } else if (d < secondD) { secondD = d; second = c }
      c += 1
    }
    if (second < 0) best else second // 1 centroid: degenerate to best
  }

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case org.apache.spark.sql.types.ArrayType(t, _) =>
      t == org.apache.spark.sql.types.FloatType
    case other => throw new IllegalArgumentException(s"expected array, got $other")
  }

  /** Fused cosine similarity (dot and both norms in one pass). */
  case class CosineSim(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_cosine"
    private lazy val lf = elemIsFloat(left)
    private lazy val rf = elemIsFloat(right)

    override protected def nullSafeEval(a: Any, b: Any): Any =
      cosineEval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], lf, rf)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.VectorExprs.cosineEval($a, $b, $lf, $rf)")

    override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
      copy(left = l, right = r)
  }

  /** Index of the nearest centroid by squared L2 — the IVF coarse
    * assignment, one fused loop over nLists × dim.
    */
  case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
      extends UnaryExpression {
    require(centroids.nonEmpty, "need centroids")
    override def dataType: DataType = org.apache.spark.sql.types.IntegerType
    override def prettyName: String = "graft_nearest_centroid"
    private lazy val vf = elemIsFloat(child)

    override protected def nullSafeEval(input: Any): Any =
      nearestCentroidEval(input.asInstanceOf[ArrayData], centroids, vf)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("centroids", centroids, "double[][]")
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.VectorExprs.nearestCentroidEval($c, $ref, $vf)")
    }

    override protected def withNewChildInternal(c: Expression): NearestCentroid =
      copy(child = c)

    override def equals(o: Any): Boolean = o match {
      case NearestCentroid(c, p) =>
        c == child && p.length == centroids.length &&
          p.zip(centroids).forall { case (x, y) => java.util.Arrays.equals(x, y) }
      case _ => false
    }
    override def hashCode(): Int =
      31 * child.hashCode() + centroids.map(java.util.Arrays.hashCode).toSeq.hashCode()
  }

  /** Index of the SECOND-nearest centroid — the 2-probe assignment
    * SemDeDup-style clustering uses to close the cell-boundary
    * recall hole (a vector pair straddling two cells meets in the
    * union of both probes). Degenerates to the nearest with a single
    * centroid.
    */
  case class SecondNearestCentroid(child: Expression, centroids: Array[Array[Double]])
      extends UnaryExpression {
    require(centroids.nonEmpty, "need centroids")
    override def dataType: DataType = org.apache.spark.sql.types.IntegerType
    override def prettyName: String = "graft_second_nearest_centroid"
    private lazy val vf = elemIsFloat(child)

    override protected def nullSafeEval(input: Any): Any =
      secondNearestCentroidEval(input.asInstanceOf[ArrayData], centroids, vf)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("centroids", centroids, "double[][]")
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.VectorExprs.secondNearestCentroidEval($c, $ref, $vf)")
    }

    override protected def withNewChildInternal(c: Expression): SecondNearestCentroid =
      copy(child = c)

    override def equals(o: Any): Boolean = o match {
      case SecondNearestCentroid(c, p) =>
        c == child && p.length == centroids.length &&
          p.zip(centroids).forall { case (x, y) => java.util.Arrays.equals(x, y) }
      case _ => false
    }
    override def hashCode(): Int =
      37 * child.hashCode() + centroids.map(java.util.Arrays.hashCode).toSeq.hashCode()
  }

  /** Asymmetric PQ cosine (ADC): cosine between an exact query vector
    * and the product-quantization RECONSTRUCTION of a corpus row,
    * straight from its m-byte code — the reconstruction is never
    * materialized. One fused loop over dim; the codebooks
    * (m × k × dim/m doubles) ride along as a codegen reference object,
    * exactly like NearestCentroid's centroids. (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011 — the ADC
    * variant, §IV.A.)
    */
  def pqCosineEval(q: ArrayData, codes: ArrayData,
      books: Array[Array[Array[Double]]], qFloat: Boolean): Double = {
    val (nq0, gq) = toDoubles(q, qFloat)
    var dot = 0.0; var nq = 0.0; var nr = 0.0
    var off = 0
    var j = 0
    while (j < books.length) {
      val cw = books(j)(codes.getInt(j))
      var i = 0
      val m = math.min(cw.length, math.max(0, nq0 - off))
      while (i < m) {
        val x = gq(off + i); val y = cw(i)
        dot += x * y; nq += x * x; nr += y * y
        i += 1
      }
      off += cw.length
      j += 1
    }
    dot / math.sqrt(nq * nr)
  }

  case class PqCosine(left: Expression, right: Expression,
      books: Array[Array[Array[Double]]]) extends BinaryExpression {
    require(books.nonEmpty, "need codebooks")
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_pq_cosine"
    private lazy val qf = elemIsFloat(left)

    override protected def nullSafeEval(a: Any, b: Any): Any =
      pqCosineEval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
        books, qf)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("books", books, "double[][][]")
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.VectorExprs.pqCosineEval($a, $b, $ref, $qf)")
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): PqCosine =
      copy(left = l, right = r)

    override def equals(o: Any): Boolean = o match {
      case PqCosine(l, r, b) =>
        l == left && r == right && b.length == books.length &&
          b.zip(books).forall { case (x, y) =>
            x.length == y.length &&
              x.zip(y).forall { case (u, v) => java.util.Arrays.equals(u, v) }
          }
      case _ => false
    }
    override def hashCode(): Int =
      31 * (31 * left.hashCode() + right.hashCode()) +
        books.map(_.map(java.util.Arrays.hashCode).toSeq).toSeq.hashCode()
  }

  /** Random-hyperplane sign code: bit p set iff dot(v, planeₚ) ≥ 0.
    * The plane matrix is captured in the expression and referenced
    * from generated code (not re-literalized per element).
    */
  case class SignCode(child: Expression, planes: Array[Array[Double]])
      extends UnaryExpression {
    require(planes.nonEmpty && planes.length <= 64, "1..64 planes")
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_sign_code"
    private lazy val vf = elemIsFloat(child)

    override protected def nullSafeEval(input: Any): Any =
      signCodeEval(input.asInstanceOf[ArrayData], planes, vf)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("planes", planes, "double[][]")
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.VectorExprs.signCodeEval($c, $ref, $vf)")
    }

    override protected def withNewChildInternal(c: Expression): SignCode =
      copy(child = c)

    // Array fields break case-class equality/canonicalization; compare
    // by content so plan canonicalization dedupes identical codes.
    override def equals(o: Any): Boolean = o match {
      case SignCode(c, p) =>
        c == child && p.length == planes.length &&
          p.zip(planes).forall { case (x, y) => java.util.Arrays.equals(x, y) }
      case _ => false
    }
    override def hashCode(): Int =
      31 * child.hashCode() + planes.map(java.util.Arrays.hashCode).toSeq.hashCode()
  }
}

/** Column wrappers for the fused vector kernels above — the one
  * implementation of cosine, sign codes and centroid assignment. */
object VectorColumns {
  import org.apache.spark.sql.GraftSqlBridge.{column, expression}
  import VectorExprs._

  def cosine(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))

  def signCode(v: Column, planes: Seq[Seq[Double]]): Column =
    column(SignCode(expression(v), planes.map(_.toArray).toArray))

  def nearestCentroid(v: Column, centroids: Seq[Seq[Double]]): Column =
    column(NearestCentroid(expression(v), centroids.map(_.toArray).toArray))

  def secondNearestCentroid(v: Column, centroids: Seq[Seq[Double]]): Column =
    column(SecondNearestCentroid(expression(v), centroids.map(_.toArray).toArray))

  def pqCosine(q: Column, codes: Column, books: Seq[Seq[Seq[Double]]]): Column =
    column(PqCosine(expression(q), expression(codes),
      books.map(_.map(_.toArray).toArray).toArray))
}
