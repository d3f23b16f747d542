package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextHashes

/** Unigram negative-sampling table (word2vec's f^{3/4} distribution,
  * Mikolov 2013) — the smoothed-frequency draw table every
  * contrastive text objective (skip-gram negatives, contrastive
  * retrieval pre-training) builds from the corpus: raising unigram
  * frequency to 3/4 up-weights the tail enough that negatives aren't
  * all stop-words.
  *
  * Exactness: f^{3/4} = sqrt(sqrt(f³)) — two CORRECTLY-ROUNDED IEEE
  * sqrts over an exact integer cube (f³ stays exact in a double up
  * to f ≈ 2×10⁵; above that, the cube should move to DECIMAL before
  * the root — stated bound). Each weight is 6dp-quantized to decimal
  * BEFORE the vocabulary sum, so the normalizing total is
  * order-independent; shares are one closing division.
  *
  * Scale shape: one explode+count pass (vocabulary-sized, partial-
  * aggregable), one decimal total, one top-k window on the
  * deterministic (f DESC, token) order.
  */
object NegSampling {

  /** Build the table over `textCol`; report the top `k` tokens by
    * (frequency DESC, token). Returns (token, f, weight, share). */
  def table(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val freq = docs
      .select(explode(TextHashes.wordNgrams(col(textCol), 1)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("f"))
      .withColumn("weight",
        round(sqrt(sqrt((col("f") * col("f") * col("f"))
          .cast("double"))), 6).cast("decimal(24,6)"))
    val total = freq.agg(sum(col("weight")).as("w_all"))
    // top-k via orderBy+limit = TakeOrdered (distributed per-partition
    // top-k + driver merge), NOT a row_number window — a global
    // row_number sorts the whole Zipf vocabulary in ONE reducer to
    // keep k rows (r13 sweep; SkewReport.topKeys' pattern). The
    // (f DESC, token) key is a total order, so the kept set is
    // identical.
    freq.orderBy(col("f").desc, col("token")).limit(k)
      .crossJoin(broadcast(total))
      .select(col("token"), col("f"),
        col("weight").cast("double").as("weight"),
        round(col("weight").cast("double") /
          col("w_all").cast("double"), 9).as("share"))
  }

  /** DuckDB restatement over `docs_rel(text)`; ends in
    * `neg_out(token, f, weight, share, rn)`. */
  def tableSql(rel: String, k: Int): String =
    s"""neg_freq AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS f
       |  FROM (SELECT unnest(${TextHashes.wordTokensSql("text")}) AS token FROM $rel)
       |  GROUP BY token
       |), neg_w AS (
       |  SELECT token, f,
       |    CAST(round(sqrt(sqrt(CAST(f * f * f AS DOUBLE))), 6)
       |      AS DECIMAL(24,6)) AS weight
       |  FROM neg_freq
       |), neg_tot AS (SELECT sum(weight) AS w_all FROM neg_w),
       |neg_out AS (
       |  SELECT token, f, CAST(weight AS DOUBLE) AS weight,
       |    round(CAST(weight AS DOUBLE) / CAST(w_all AS DOUBLE), 9)
       |      AS share,
       |    row_number() OVER (ORDER BY f DESC, token) AS rn
       |  FROM neg_w CROSS JOIN neg_tot
       |)""".stripMargin
}
