package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextHashes

/** Rare-token scrubbing — drop tokens whose DOCUMENT frequency is
  * below a floor and reconstruct the text: the memorization-
  * mitigation pass (a token seen in one document is a
  * secret/identifier candidate the model would memorize verbatim;
  * scrubbing the df=1 tail is the cheap blanket defense next to
  * q55's pattern-targeted PII redaction).
  *
  * Exactness: document frequencies are exact distinct counts; the
  * reconstruction concatenates kept tokens in EXACT original
  * position order (collected structs sort on position — no
  * collect_list order reliance); all-scrubbed docs reconstruct to
  * the empty string (stated, not null).
  *
  * Scale shape: one explode pass, one vocabulary-sized df rollup
  * (partial-aggregable), one hash join back on the token, one
  * per-doc ordered re-assembly. df could broadcast when the rare
  * set is small; the join keeps the general case shuffle-bounded.
  */
object RareTokenScrub {

  /** Scrub tokens with df < `minDf` from `textCol`. Returns
    * (idCol, n_kept, n_scrubbed, scrubbed_text). */
  def scrub(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minDf: Int = 2): DataFrame = {
    val exploded = docs.select(col(idCol),
      posexplode(TextHashes.wordNgrams(col(textCol), 1)).as(Seq("pos", "token")))
    val df = exploded.groupBy("token")
      .agg(count_distinct(col(idCol)).as("df"))
    exploded.join(df, Seq("token"))
      .withColumn("keep", col("df") >= minDf)
      .groupBy(col(idCol))
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_scrubbed"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("pos"), col("token"))))),
          e => e.getField("token"))).as("scrubbed_text"))
  }

  /** DuckDB restatement over `sc_docs(id, text)`; ends in
    * `scrub_out(id, n_kept, n_scrubbed, scrubbed_text)`. */
  def scrubSql(minDf: Int = 2): String =
    s"""sc_tok AS (
       |  SELECT id, t.pos, t.token FROM (
       |    SELECT id, unnest(${TextHashes.wordTokensSql("text")}) AS token,
       |      unnest(range(1, len(${TextHashes.wordTokensSql("text")}) + 1)) AS pos
       |    FROM sc_docs) t
       |), sc_df AS (
       |  SELECT token, CAST(count(DISTINCT id) AS BIGINT) AS df
       |  FROM sc_tok GROUP BY token
       |), scrub_out AS (
       |  SELECT t.id,
       |    CAST(sum(CASE WHEN d.df >= $minDf THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_kept,
       |    CAST(sum(CASE WHEN d.df >= $minDf THEN 0 ELSE 1 END)
       |      AS BIGINT) AS n_scrubbed,
       |    COALESCE(string_agg(CASE WHEN d.df >= $minDf
       |      THEN t.token END, ' ' ORDER BY t.pos), '')
       |      AS scrubbed_text
       |  FROM sc_tok t JOIN sc_df d ON t.token = d.token
       |  GROUP BY t.id
       |)""".stripMargin
}
