package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Theta sketches (Agarwal et al., KMV/theta family) as first-class
  * aggregates — the distinct-count algebra HLL (q45) cannot do:
  *
  *  - HLL unions, but cannot INTERSECT or DIFFERENCE: "users who
  *    clicked AND purchased", "documents seen today but NOT in the
  *    corpus index" need theta's retained-sample structure;
  *  - a theta sketch is one pass, ≤2^lgK retained 64-bit hashes
  *    (EXACT below that — which is what makes a deterministic DuckDB
  *    oracle possible at the gated SF), and MERGES: per-shard /
  *    per-day sketch bytes persist and combine later without
  *    revisiting rows — the same artifact discipline as SketchAgg
  *    (KLL) and FreqSketchAgg (heavy hitters).
  *
  * At 100 TB the shape is: segment scans build per-segment sketches
  * once (a few KB each); every subsequent audience/overlap/novelty
  * question is pure sketch algebra on the driver or in a tiny
  * follow-up job — no rescan, no giant distinct shuffle.
  *
  * The aggregates are Spark's `theta_sketch_agg`/`theta_union_agg`;
  * these wrappers add graft's NULL for a group with no non-null input.
  * The set operations and the estimate are Spark's own
  * `theta_intersection`, `theta_difference`, `theta_union` (give it an
  * lgK that covers the inputs' build size, or exact-mode inputs are
  * downsampled) and `theta_sketch_estimate`.
  */
object ThetaAgg {

  /** log2 of the nominal entry count; exact below 2^lgK retained. */
  val DefaultLgK = 12

  /** One-pass distinct sketch over a long or string column. */
  def thetaSketch(c: Column, lgK: Int = DefaultLgK): Column =
    when(count(c) > 0, theta_sketch_agg(c, lgK))

  /** Merge previously-built sketches (binary column) → binary. */
  def thetaUnion(sketches: Column, lgK: Int = DefaultLgK): Column =
    when(count(sketches) > 0, theta_union_agg(sketches, lgK))
}
