package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextHashes
import graft.plans.Plans.barrier

/** Multinomial Naive Bayes text classifier — the fastText-style
  * quality/language gate every large corpus pipeline trains on a
  * labeled slice and applies to the whole crawl (CCNet's fastText
  * lang-id, FineWeb-Edu's quality scorer; reference counterpart:
  * dlt_runner.py:46-55's row filters generalized from hand-written
  * predicates to a LEARNED keep/drop predicate).
  *
  * Model = two count tables + three scalars, all exact integers:
  *   c_tc  per-(token, class) occurrence counts     (vocab-sized)
  *   d_c   per-class document counts, D total       (scalars)
  *   N_c   per-class token totals, V = |vocab|      (scalars)
  * Add-one smoothing: P(t|c) = (c_tc + 1) / (N_c + V); a token
  * unseen in EITHER class still contributes its smoothed floor, so
  * out-of-vocabulary text degrades scores instead of crashing them.
  *
  * Determinism (the q234 LmFilter discipline): every log term is
  * round(ln(exact-int ratio), 6) cast to DECIMAL(28,6) BEFORE the
  * per-doc sum — decimal sums are order-independent — and the
  * decision margin stays decimal end to end. Ties predict class 0.
  *
  * Scale shape: training is one explode + partial-aggregable
  * groupBy over the labeled slice (labeled sets are tiny next to
  * the corpus); the class-conditional scalars broadcast as a 1-row
  * cross join; scoring streams the corpus through ONE hash join on
  * token + one per-doc rollup. Nothing driver-side.
  */
object NaiveBayes {

  /** Train on `train` (binary 0/1 `labelCol`) and score `test`:
    * returns (idCol, label, n_tokens, margin_mu, pred) where
    * margin_mu = (logP₁ − logP₀)·1e6 as an exact BIGINT and
    * pred = 1 iff margin > 0.
    */
  def trainScore(
      train: DataFrame,
      test: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String): DataFrame = {
    val lbl = col(labelCol).cast("long")
    // one materialized pass: token-class counts feed the join AND
    // both per-class token totals
    val tokCounts = barrier(train
      .select(lbl.as("y"), explode(TextHashes.wordNgrams(col(textCol), 1)).as("w"))
      .groupBy("w")
      .agg(sum(when(col("y") === 1, 1L).otherwise(0L)).as("c_t1"),
        sum(when(col("y") === 0, 1L).otherwise(0L)).as("c_t0")))
    val scalars = tokCounts.agg(
        count(lit(1)).as("v"),
        sum(col("c_t0")).as("n0"),
        sum(col("c_t1")).as("n1"))
      .crossJoin(train.agg(
        sum(when(lbl === 0, 1L).otherwise(0L)).as("d0"),
        sum(when(lbl === 1, 1L).otherwise(0L)).as("d1")))

    def term(cnt: Column, tot: Column): Column =
      round(log((coalesce(cnt, lit(0L)) + 1).cast("double") /
        (tot + col("v")).cast("double")), 6).cast("decimal(28,6)")

    val prior = round(log(col("d1").cast("double") / col("d0")), 6)
      .cast("decimal(28,6)")

    test
      .select(col(idCol), lbl.as("label"),
        explode(TextHashes.wordNgrams(col(textCol), 1)).as("w"))
      .join(tokCounts, Seq("w"), "left")
      .crossJoin(broadcast(scalars))
      .groupBy(col(idCol), col("label"))
      .agg(count(lit(1)).as("n_tokens"),
        (sum(term(col("c_t1"), col("n1")) - term(col("c_t0"), col("n0")))
          + first(prior)).as("m"))
      .select(col(idCol), col("label"), col("n_tokens"),
        // re-narrow before the µ-scale: the agg's max-precision sum
        // type would hit the precision-38 cap under ×1e6
        (col("m").cast("decimal(28,6)") * 1000000L).cast("long")
          .as("margin_mu"),
        when(col("m") > 0, 1L).otherwise(0L).as("pred"))
  }

  /** DuckDB restatement of [[trainScore]]: CTE chain over relations
    * `nbtrain(id, text, label01)` / `nbtest(id, text, label01)`;
    * ends in `nb_out(id, label, n_tokens, margin_mu, pred)`. */
  def trainScoreSql: String =
    s"""nbtok AS (
      |  SELECT id, label01,
      |    ${TextHashes.wordTokensSql("text")} AS t
      |  FROM nbtrain
      |), nbcounts AS (
      |  SELECT w,
      |    CAST(sum(label01) AS BIGINT) AS c_t1,
      |    CAST(sum(1 - label01) AS BIGINT) AS c_t0
      |  FROM (SELECT label01, unnest(t) AS w FROM nbtok) GROUP BY w
      |), nbscalars AS (
      |  SELECT CAST(count(*) AS BIGINT) AS v,
      |    CAST(sum(c_t0) AS BIGINT) AS n0,
      |    CAST(sum(c_t1) AS BIGINT) AS n1,
      |    (SELECT CAST(sum(1 - label01) AS BIGINT) FROM nbtrain) AS d0,
      |    (SELECT CAST(sum(label01) AS BIGINT) FROM nbtrain) AS d1
      |  FROM nbcounts
      |), nbtest_tok AS (
      |  SELECT id, label01, unnest(
      |    ${TextHashes.wordTokensSql("text")}) AS w
      |  FROM nbtest
      |), nbterms AS (
      |  SELECT s.id, s.label01,
      |    CAST(round(ln(CAST(COALESCE(c.c_t1, 0) + 1 AS DOUBLE)
      |        / CAST(x.n1 + x.v AS DOUBLE)), 6) AS DECIMAL(28,6))
      |      - CAST(round(ln(CAST(COALESCE(c.c_t0, 0) + 1 AS DOUBLE)
      |        / CAST(x.n0 + x.v AS DOUBLE)), 6) AS DECIMAL(28,6))
      |      AS dterm,
      |    CAST(round(ln(CAST(x.d1 AS DOUBLE) / CAST(x.d0 AS DOUBLE)),
      |      6) AS DECIMAL(28,6)) AS prior
      |  FROM nbtest_tok s
      |  LEFT JOIN nbcounts c ON s.w = c.w
      |  CROSS JOIN nbscalars x
      |), nb_out AS (
      |  SELECT id, label01 AS label,
      |    CAST(count(*) AS BIGINT) AS n_tokens,
      |    CAST((sum(dterm) + any_value(prior)) * 1000000 AS BIGINT)
      |      AS margin_mu,
      |    CAST(CASE WHEN sum(dterm) + any_value(prior) > 0
      |      THEN 1 ELSE 0 END AS BIGINT) AS pred
      |  FROM nbterms GROUP BY id, label01
      |)""".stripMargin
}
