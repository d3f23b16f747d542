package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Bloom-filter membership sketch over Long keys, built on Spark's
  * own runtime-filter machinery (`BloomFilterAggregate` /
  * `BloomFilterMightContain` — the codegen'd expressions Spark
  * injects for its adaptive runtime bloom filters).
  *
  * Why this exists next to `Dedup.contamination`'s broadcast
  * inverted-index probe: the exact index is the right tool while the
  * probe-side key set fits in a broadcast table (tens of millions of
  * grams). Past that, a bloom of the SAME key set is 10–100× smaller
  * (bits, not 8-byte keys + hashmap overhead), still broadcasts, and
  * filters map-side with zero false negatives. The survivors — a tiny
  * fraction of the 100 TB side — then pay the exact shuffle join that
  * removes the bloom's false positives. Reference behavior covered:
  * datanika `tasks/benchmark_decontamination.py` (n-gram overlap
  * flagging), re-expressed as the two-phase sketch+verify plan a
  * 1000-executor cluster needs.
  */
object Bloom {

  /** Build a bloom filter over a Long column; returns the serialized
    * sketch. Distributed build: partial sketches per partition,
    * merged associatively (TypedImperativeAggregate), so the driver
    * receives one `numBits/8`-byte blob — never the keys.
    *
    * Returns `null` when `df` has no non-null keys (Spark's aggregate
    * yields no sketch); callers must handle it — `mightContain` over a
    * `Literal(null)` sketch evaluates to null, i.e. filters all rows.
    */
  def build(df: DataFrame, keyCol: Column, expectedItems: Long,
      numBits: Long): Array[Byte] = {
    val agg = new BloomFilterAggregate(expression(keyCol.cast("long")),
      Literal(expectedItems), Literal(numBits))
    df.select(column(agg.toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** Membership predicate against a built sketch. The sketch bytes
    * travel to executors as a literal inside the serialized plan
    * (same transport Spark uses for its injected runtime filters);
    * evaluation is codegen'd, per-row, shuffle-free.
    */
  def mightContain(sketch: Array[Byte], keyCol: Column): Column =
    column(BloomFilterMightContain(Literal(sketch),
      expression(keyCol.cast("long"))))

  /** Two-phase decontamination: bloom prefilter → exact verify.
    *
    * Phase 1 builds a bloom over the eval set's distinct word-n-gram
    * hashes (`TextHashes.wordShingleHashes` — 8-byte keys, so the
    * sketch build shuffles nothing but partial bitmaps). Phase 2
    * streams the training corpus, drops every gram the bloom rules
    * out (map-side, no false negatives by construction), and only the
    * surviving grams enter the exact shuffle join + per-pair distinct
    * intersection count. Output rows are therefore EXACTLY the pairs
    * `Dedup.contamination` finds — the bloom changes the plan, not
    * the answer.
    *
    * Returns (train_id, eval_id, n_shared) with n_shared >= minShared.
    */
  def contaminationBloom(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minShared: Int = 1,
      bitsPerKey: Int = 16): DataFrame = {
    def grams(df: DataFrame, as: String): DataFrame =
      df.select(col(idCol).as(as),
        explode(graft.functions.TextHashes.wordShingleHashes(col(textCol), n))
          .as("gram"))

    // evalGrams feeds three passes (count, sketch build, exact join);
    // the barrier tokenizes and hashes the eval texts once for all three
    val evalGrams = graft.plans.Plans.barrier(grams(eval, "eval_id"))
    // one cheap count over the (small) eval side sizes the sketch;
    // bitsPerKey=16 ≈ 0.05% fp at the optimal hash count
    val items = math.max(evalGrams.count(), 1L)
    // Spark's BloomFilterAggregate silently clamps numBits to
    // spark.sql.optimizer.runtime.bloomFilter.maxNumBits (default
    // 2^26); cap at that conf ourselves so the fp-rate math stays
    // honest. A clamp only raises the fp rate — the exact join still
    // removes every false positive.
    val maxNumBits = train.sparkSession.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
        (1L << 26).toString).toLong
    val sketch = build(evalGrams, col("gram"), items,
      math.min(items * bitsPerKey.toLong, maxNumBits))

    grams(train, "train_id")
      .filter(mightContain(sketch, col("gram")))
      .join(evalGrams, "gram")
      // grams are DISTINCT per doc, so count == intersection size
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
