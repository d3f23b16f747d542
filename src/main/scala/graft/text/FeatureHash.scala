package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextHashes

/** Hashing-trick feature vectorization census (Weinberger et al.
  * 2009 — the fixed-width bag-of-words every large-scale linear/
  * embedding baseline starts from): token → portable polynomial
  * hash → bucket = hash mod B, with the census reporting how the
  * vocabulary folds into the B buckets (occupancy + collision
  * pressure decide B; the whole point of the trick is that B, not
  * the unbounded vocabulary, is the model dimension).
  *
  * The hash is [[TextAnalysis.rollingFingerprint]]'s chain
  * ((acc·31 + ascii) mod 1e9+7) — engine-portable where xxhash64 is
  * not, so a SQL oracle reproduces bucket ids exactly. Buckets and
  * counts are pure integers.
  *
  * 100 TB shape: tokenize + hash is a codegen'd projection; the
  * census is one partial-aggregable groupBy on the bucket id
  * (B-bounded output). The exact distinct-token count expands the
  * key to (bucket, token) for its partial pass — swap in
  * approx_count_distinct when only occupancy matters at scale.
  */
object FeatureHash {

  def bucketOf(token: org.apache.spark.sql.Column, buckets: Int) =
    pmod(TextAnalysis.rollingFingerprint(token), lit(buckets.toLong))

  /** @return (bucket, n_occurrences, n_distinct_tokens), one row per
    *         NON-EMPTY bucket.
    */
  def census(docs: DataFrame, textCol: String, buckets: Int): DataFrame = {
    require(buckets >= 2, s"need >= 2 buckets: $buckets")
    docs.select(explode(TextHashes.wordNgrams(col(textCol), 1)).as("w"))
      .select(col("w"), bucketOf(col("w"), buckets).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_occurrences"),
        count_distinct(col("w")).as("n_distinct_tokens"))
  }
}
