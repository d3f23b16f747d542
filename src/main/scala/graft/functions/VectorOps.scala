package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector primitives over `array<float>` embedding columns, built on
  * Spark's higher-order functions (`zip_with`/`aggregate`) so they
  * stay inside Catalyst — no UDF serialization, no Python workers.
  *
  * The reference stores embeddings opaquely; similarity math is a
  * mandated graft addition for training-data pipelines (ANN /
  * near-dup over `embeddings.parquet`). Cosine and sign codes are the
  * fused kernels in [[VectorColumns]]; this object keeps the dot
  * product `RandomProjection` composes, and the hyperplane and
  * banding helpers around the sign codes.
  */
object VectorOps {

  /** Σ aᵢ·bᵢ — one fused pass over the two arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Deterministic pseudo-random Gaussian hyperplanes (fixed seed so
    * every executor and every run agrees without shipping state).
    */
  def hyperplanes(h: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(h)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Split an h-bit code into `bands` equal chunks as an array of
    * (band_id, band_val) structs — the LSH OR-amplification step:
    * two codes collide if ANY band matches.
    */
  def codeBands(code: Column, bits: Int, bands: Int): Column = {
    require(bits % bands == 0, s"$bits bits not divisible into $bands bands")
    val width = bits / bands
    val mask = (1L << width) - 1
    array(Seq.tabulate(bands) { i =>
      struct(lit(i).as("band_id"),
        shiftright(code, i * width).bitwiseAND(lit(mask)).as("band_val"))
    }: _*)
  }
}
