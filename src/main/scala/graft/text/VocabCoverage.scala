package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextHashes

/** Vocabulary coverage curve — "how much of the corpus does a top-K
  * vocabulary cover": the tokenizer-budget design tool (pick the
  * vocab size where the OOV rate crosses your tolerance; the same
  * curve justifies q143's merge count and q92's truncation budget).
  *
  * Exactness: type frequencies rank on the (f DESC, token) total
  * order; cumulative occurrence counts are BIGINT window sums over
  * TYPES (vocabulary-sized, never per-token rows); each cutoff's
  * coverage is one exact-int division rounded 9 dp.
  *
  * Scale shape: one explode+count pass (partial-aggregable); the
  * rank and the cumulative sum run the consolidated two-phase
  * range-bucket scan ([[graft.ops.PrefixSum]] — VERDICT r13 item 1:
  * "vocabulary-sized" is Zipf-sublinear but NOT bounded; a 100 TB
  * web corpus carries 10⁸–10⁹ distinct types, and the previous
  * unpartitioned `Window.orderBy` funneled all of them through one
  * reducer). Frequency is the monotone bucket key (equal f can never
  * straddle buckets, so the (f DESC, token) order is bucket-
  * consistent); both prefix sums ride ONE scan; then a
  * |cutoffs|-sized conditional rollup exploded through literals (the
  * q279 shape).
  */
object VocabCoverage {

  /** Coverage at each cutoff over `textCol`. Returns
    * (vocab_k, n_types, covered_occ, total_occ, coverage, oov_rate). */
  def curve(docs: DataFrame, textCol: String, cutoffs: Seq[Int])
      : DataFrame = {
    require(cutoffs.nonEmpty && cutoffs == cutoffs.sorted)
    val freq = docs.select(explode(TextHashes.wordNgrams(col(textCol), 1)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("f"))
    val bucketed = graft.ops.PrefixSum.rangeBucket(
      freq, col("f"), 256, "__vb")
    val ranked = graft.ops.PrefixSum.cumBefore(bucketed, Seq.empty,
        "__vb", bucketDesc = true,
        Seq(col("f").desc, col("token").asc),
        Seq((lit(1L), "__rn0"), (col("f"), "__cum0")))
      .withColumn("rn", col("__rn0") + 1)
      .withColumn("cum", col("__cum0") + col("f"))
      .drop("__vb", "__rn0", "__cum0")
    val aggs = count(lit(1)).as("n_vocab") +:
      sum(col("f")).as("total_occ") +:
      cutoffs.flatMap { k =>
        Seq(max(when(col("rn") <= k, col("cum"))).as(s"cov_$k"),
          sum(when(col("rn") <= k, 1L).otherwise(0L)).as(s"nt_$k"))
      }
    val row = ranked.agg(aggs.head, aggs.tail: _*)
    val out = array(cutoffs.map { k =>
      struct(lit(k.toLong).as("vocab_k"),
        col(s"nt_$k").as("n_types"),
        coalesce(col(s"cov_$k"), lit(0L)).as("covered_occ"),
        col("total_occ").as("total_occ"),
        round(coalesce(col(s"cov_$k"), lit(0L)).cast("double") /
          col("total_occ").cast("double"), 9).as("coverage"))
    }: _*)
    row.select(explode(out).as("c")).select(
      col("c.vocab_k").as("vocab_k"), col("c.n_types").as("n_types"),
      col("c.covered_occ").as("covered_occ"),
      col("c.total_occ").as("total_occ"),
      col("c.coverage").as("coverage"),
      round(lit(1.0) - col("c.coverage"), 9).as("oov_rate"))
  }

  /** DuckDB restatement over `vc_docs(text)`; ends in
    * `vc_out(vocab_k, n_types, covered_occ, total_occ, coverage,
    * oov_rate)`. */
  def curveSql(cutoffs: Seq[Int]): String = {
    val selects = cutoffs.map { k =>
      s"""SELECT CAST($k AS BIGINT) AS vocab_k,
         |    CAST(sum(CASE WHEN rn <= $k THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_types,
         |    CAST(COALESCE(max(CASE WHEN rn <= $k THEN cum END), 0)
         |      AS BIGINT) AS covered_occ,
         |    CAST(sum(f) AS BIGINT) AS total_occ,
         |    round(CAST(COALESCE(max(CASE WHEN rn <= $k THEN cum END),
         |        0) AS DOUBLE) / CAST(sum(f) AS DOUBLE), 9)
         |      AS coverage,
         |    round(1.0 - round(CAST(COALESCE(max(CASE WHEN rn <= $k
         |        THEN cum END), 0) AS DOUBLE) / CAST(sum(f) AS DOUBLE),
         |      9), 9) AS oov_rate
         |  FROM vc_ranked""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""vc_freq AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS f
       |  FROM (SELECT unnest(${TextHashes.wordTokensSql("text")}) AS token FROM vc_docs)
       |  GROUP BY token
       |), vc_ranked AS (
       |  SELECT f,
       |    row_number() OVER (ORDER BY f DESC, token) AS rn,
       |    CAST(sum(f) OVER (ORDER BY f DESC, token
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM vc_freq
       |), vc_out AS (
       |  $selects
       |)""".stripMargin
  }
}
