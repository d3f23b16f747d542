package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextHashes

/** ROUGE-N overlap scoring between paired texts (Lin 2004) — the
  * summarization/generation eval every synthetic-data pipeline runs
  * between a model output and its reference (and the dedup-adjacent
  * "how much of the reference does the candidate reuse" audit).
  *
  * Clipped-count semantics: a candidate n-gram counts once per
  * occurrence, capped at its reference occurrence count —
  * n_match = Σ_g min(c_cand(g), c_ref(g)) over MULTISET counts (the
  * distinct-gram shortcut of the Jaccard family under-counts
  * repeated grams; ROUGE does not).
  *
  * Exactness: counts are integers; P = m/tc and R = m/tr reduce F1
  * to the single rational 2m/(tc+tr), so the three outputs are one
  * closing division each, rounded 9 dp.
  *
  * Scale shape: per-doc n-gram COUNT tables (groupBy doc+gram —
  * partial-aggregable), one hash join on (pair, gram), one per-pair
  * rollup. Never |cand| × |ref|; pairs meet only on shared grams.
  */
object Rouge {

  // native codegen'd n-gram loop (TextHashExprs.WordNgrams) — the
  // HOF transform/element_at form re-evaluated the token split per
  // output gram × per slot (O(tokens²·n) per row, interpreted).
  // Identical contract: `\s+`-run tokens of lower(text), under-n
  // docs yield an empty array (pair drops out, stated not imputed).
  private def ngrams(c: Column, n: Int): Column =
    graft.functions.TextHashes.wordNgrams(c, n)

  /** The gram-key convention, reconciled (VERDICT r10 item 5 — one
    * documented answer instead of LmFilter/Rouge-text vs Dsir-hash):
    *
    *  - `hashKeys = false` (default, ORACLE PARITY): grams join as
    *    TEXT, so both engines run identical multiset semantics and a
    *    64-bit collision cannot break parity asymmetrically. Every
    *    oracle-gated fixture runs this mode.
    *  - `hashKeys = true` (PRODUCTION): grams reduce to xxhash64
    *    8-byte keys before the shuffle — on sf1 word bigrams this
    *    removes the ~7%-of-wall-clock string-shuffle tax (BASELINE
    *    r11 row). Collision bound: a within-pair collision merges two
    *    gram counts; with p grams per pair the chance any pair is
    *    affected is ≤ pairs·p²/2⁶⁵ — at 10⁹ pairs × 10⁴ grams each,
    *    ~3·10⁻³ expected affected pairs corpus-wide, and an affected
    *    pair's n_match moves by at most the smaller merged count.
    *    Spec-pinned equal to text mode on fixtures.
    */
  private def gramKey(as: String, hashKeys: Boolean)(g: Column): Column =
    (if (hashKeys) xxhash64(g) else g).as(as)

  /** Per-(pair, gram) multiset counts of one side — the shared
    * count-table builder (fresh scoring, the persisted index, and
    * the probe's candidate leg all run it). Barriered by callers
    * that read it twice. */
  private def gramCounts(df: DataFrame, pairCol: String, textCol: String,
      n: Int, as: String, hashKeys: Boolean): DataFrame =
    df.select(col(pairCol).as("pair_id"),
        explode(ngrams(col(textCol), n)).as("_g"))
      .select(col("pair_id"), gramKey("gram", hashKeys)(col("_g")))
      .groupBy("pair_id", "gram")
      .agg(count(lit(1)).as(as))

  /** The clipped-count scoring tail over prepared count tables
    * `c(pair_id, gram, c_cand)` / `r(pair_id, gram, c_ref)` — both
    * the fresh path and the persisted-index probe end here.
    *
    * ONE full-outer join + ONE per-pair rollup (r14, guide §2.4):
    * both count tables are unique on (pair_id, gram) post-groupBy,
    * so the full-outer join is 1:1 and a single pass yields the
    * totals (sum over every own-side row), the clipped matches
    * (rows present on both sides), and the either-side-empty drop
    * (null total) — the previous shape re-read each count table for
    * a separate totals rollup + a second join, forcing callers to
    * barrier the count tables (2 extra exchanges + 2 localCheckpoint
    * materializations per score). least() must be guarded: Spark's
    * least SKIPS nulls, so a bare least(c_cand, c_ref) would count
    * unmatched reference grams as matches.
    */
  private def scoreFromCounts(c: DataFrame, r: DataFrame,
      pairCol: String): DataFrame =
    c.join(r, Seq("pair_id", "gram"), "full_outer")
      .groupBy("pair_id")
      .agg(sum(col("c_cand")).as("tc"), sum(col("c_ref")).as("tr"),
        sum(when(col("c_cand").isNotNull && col("c_ref").isNotNull,
          least(col("c_cand"), col("c_ref")))).as("m"))
      // a pair missing either side has no score (undefined, stated
      // not imputed) — exactly the previous inner totals join
      .filter(col("tc").isNotNull && col("tr").isNotNull)
      .select(col("pair_id").as(pairCol),
        col("tc").as("n_cand"), col("tr").as("n_ref"),
        coalesce(col("m"), lit(0L)).as("n_match"),
        round(coalesce(col("m"), lit(0L)).cast("double") /
          col("tc").cast("double"), 9).as("precision"),
        round(coalesce(col("m"), lit(0L)).cast("double") /
          col("tr").cast("double"), 9).as("recall"),
        round(coalesce(col("m"), lit(0L)).cast("double") * 2 /
          (col("tc") + col("tr")).cast("double"), 9).as("f1"))

  /** Score candidate rows against reference rows joined on
    * `pairCol`. Returns (pairCol, n_cand, n_ref, n_match, precision,
    * recall, f1); pairs where either side has no n-grams drop out
    * (score undefined, stated not imputed). `hashKeys` picks the
    * gram-key convention documented at [[gramKey]]. */
  def rougeN(
      cand: DataFrame,
      ref: DataFrame,
      pairCol: String,
      textCol: String,
      n: Int = 2,
      hashKeys: Boolean = false): DataFrame = {
    // no barrier needed since r14: the one-pass scoreFromCounts
    // consumes each count table exactly once
    scoreFromCounts(
      gramCounts(cand, pairCol, textCol, n, "c_cand", hashKeys),
      gramCounts(ref, pairCol, textCol, n, "c_ref", hashKeys), pairCol)
  }

  /** Metadata every [[refCountIndex]] row carries and the probe
    * validates (the q325/q331 index discipline via
    * [[graft.ops.ArtifactIndex]]): family tag + gram order + key
    * convention + the corpus signature. */
  private[graft] val IndexMetaCols =
    Seq("rouge_fam", "rouge_n", "rouge_keys", "ref_rows", "ref_fp")

  /** Family tag pinning the tokenize/ngram/multiset semantics this
    * index serves. A different family must write a different tag. */
  val IndexFamily = "rouge-ngram-multiset-1"

  /** The persisted form of the ROUGE reference side — the
    * train-once/score-many shape applied to the registry's #1
    * steady-state query (VERDICT r10 item 2): the reference set in
    * a generation-eval loop is FIXED (the benchmark references);
    * candidates change per model run. So the reference per-(pair,
    * gram) multiset count table lands in parquet once, and every
    * scoring batch pays only its own tokenize+count plus one keyed
    * join — the reference corpus is never re-tokenized. `tr` totals
    * derive from the index itself (count-table-sized scan, not a
    * corpus scan). Metadata rides as RLE'd constants; `rouge_keys`
    * records the gram-key convention ("text" for oracle parity,
    * "xxh64" for the 8-byte production keys) so a probe always
    * encodes its candidate grams to match the artifact.
    */
  def refCountIndex(ref: DataFrame, pairCol: String, textCol: String,
      n: Int, sig: (Long, Long), hashKeys: Boolean = false): DataFrame =
    gramCounts(ref, pairCol, textCol, n, "c_ref", hashKeys)
      .select(col("pair_id"), col("gram"), col("c_ref"),
        lit(IndexFamily).as("rouge_fam"), lit(n).as("rouge_n"),
        lit(if (hashKeys) "xxh64" else "text").as("rouge_keys"),
        lit(sig._1).as("ref_rows"), lit(sig._2).as("ref_fp"))

  /** Score a candidate batch against a persisted [[refCountIndex]] —
    * same output contract as [[rougeN]] restricted to the batch's
    * pairs. The gram order and key convention dispatch from the
    * index metadata, so a probe against a foreign artifact fails
    * loudly instead of silently scoring with the wrong n. */
  def scoreAgainstIndex(index: DataFrame, cand: DataFrame,
      pairCol: String, textCol: String): DataFrame = {
    require(IndexMetaCols.forall(index.columns.contains),
      s"index carries no ROUGE metadata (${IndexMetaCols.mkString("/")})" +
        " — rebuild it with Rouge.refCountIndex")
    scoreAgainstIndexMeta(index,
      index.select("rouge_fam", "rouge_n", "rouge_keys").head(1).headOption,
      cand, pairCol, textCol)
  }

  /** [[scoreAgainstIndex]] with the metadata row already in hand —
    * the indexed entry point reads it once via
    * [[graft.ops.ArtifactIndex.buildOrReuseMeta]] (r15: one first-row
    * scan per probe instead of two). Needs (rouge_fam, rouge_n,
    * rouge_keys) at positions 0-2; None = empty artifact, same loud
    * require as before. */
  private def scoreAgainstIndexMeta(index: DataFrame,
      meta: Option[org.apache.spark.sql.Row],
      cand: DataFrame, pairCol: String, textCol: String): DataFrame = {
    require(meta.nonEmpty,
      "ROUGE index is empty — rebuild it with Rouge.refCountIndex over " +
        "a non-empty reference set")
    val r0 = meta.head
    require(r0.getString(0) == IndexFamily,
      s"index is a '${r0.getString(0)}' artifact but this scorer " +
        s"implements '$IndexFamily'")
    val n = r0.getInt(1)
    val hashKeys = r0.getString(2) match {
      case "text" => false
      case "xxh64" => true
      case other => throw new IllegalArgumentException(
        s"rouge_keys = '$other' names no gram-key convention")
    }
    // no barrier needed since r14: the one-pass scoreFromCounts
    // consumes the candidate counts and the index scan exactly once
    scoreFromCounts(
      gramCounts(cand, pairCol, textCol, n, "c_cand", hashKeys),
      index.select("pair_id", "gram", "c_ref"), pairCol)
  }

  /** Build-or-reuse the persisted reference counts at `path`, then
    * score the candidate batch (the q325/q331 train-once/score-many
    * contract through [[graft.ops.ArtifactIndex.buildOrReuse]]):
    * `freshness` picks fingerprint (one reference scan per probe) or
    * a metadata-sized token; stale/foreign/torn artifacts rebuild
    * via the staged swap. Steady-state probe cost is
    * O(batch + freshness), vs [[rougeN]]'s both-sides recount.
    *
    * Unlike the LM/DSIR corpora (unkeyed bags of text), the ROUGE
    * reference is a KEYED (pair_id, text) table, so Fingerprint mode
    * signs the PAIR BINDING — xxhash64 over struct(pairCol, textCol)
    * per row (ADVICE r11): re-assigning pair_ids over the same
    * reference texts keeps a text-only (count, XOR+SUM) fingerprint
    * identical and would silently score candidates against the wrong
    * references; the struct hash changes under any re-keying.
    */
  def indexedRougeN(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      ref: DataFrame,
      cand: DataFrame,
      pairCol: String,
      textCol: String,
      n: Int = 2,
      hashKeys: Boolean = false,
      freshness: graft.ops.ArtifactIndex.Freshness =
        graft.ops.ArtifactIndex.Fingerprint): DataFrame = {
    // the signature corpus is by-name: Token mode never evaluates it
    val sig = graft.ops.ArtifactIndex.signature(freshness,
      ref.select(struct(col(pairCol), col(textCol)).as("pair_text")),
      "pair_text")
    val keys = if (hashKeys) "xxh64" else "text"
    val (idx, meta) = graft.ops.ArtifactIndex.buildOrReuseMeta(spark, path,
      IndexMetaCols, r =>
        r.getString(0) == IndexFamily && r.getInt(1) == n &&
          r.getString(2) == keys &&
          (r.getLong(3), r.getLong(4)) == sig) { staging =>
      refCountIndex(ref, pairCol, textCol, n, sig, hashKeys)
        .write.mode("overwrite").parquet(staging)
    }
    scoreAgainstIndexMeta(idx, meta, cand, pairCol, textCol)
  }

  /** DuckDB restatement over `cand(pair_id, text)` /
    * `refr(pair_id, text)`; ends in `rouge_out(pair_id, n_cand,
    * n_ref, n_match, precision, recall, f1)`. */
  def rougeNSql(n: Int = 2): String = {
    def grams(rel: String): String =
      s"""SELECT pair_id, unnest(list_transform(range(1, len(t) - ${n - 2}),
         |      i -> ${(0 until n).map(j =>
                  if (j == 0) "t[i]" else s"t[i+$j]")
                  .mkString(" || ' ' || ")})) AS gram
         |  FROM (SELECT pair_id,
         |      ${TextHashes.wordTokensSql("text")} AS t
         |    FROM $rel) WHERE len(t) >= $n""".stripMargin
    s"""cg AS (
       |  SELECT pair_id, gram, CAST(count(*) AS BIGINT) AS c_cand
       |  FROM (${grams("cand")}) GROUP BY pair_id, gram
       |), rg AS (
       |  SELECT pair_id, gram, CAST(count(*) AS BIGINT) AS c_ref
       |  FROM (${grams("refr")}) GROUP BY pair_id, gram
       |), tot AS (
       |  SELECT c.pair_id, c.tc, r.tr FROM
       |    (SELECT pair_id, CAST(sum(c_cand) AS BIGINT) AS tc
       |      FROM cg GROUP BY pair_id) c
       |    JOIN (SELECT pair_id, CAST(sum(c_ref) AS BIGINT) AS tr
       |      FROM rg GROUP BY pair_id) r USING (pair_id)
       |), m AS (
       |  SELECT cg.pair_id,
       |    CAST(sum(least(cg.c_cand, rg.c_ref)) AS BIGINT) AS n_match
       |  FROM cg JOIN rg USING (pair_id, gram) GROUP BY cg.pair_id
       |), rouge_out AS (
       |  SELECT t.pair_id, t.tc AS n_cand, t.tr AS n_ref,
       |    COALESCE(m.n_match, 0) AS n_match,
       |    round(CAST(COALESCE(m.n_match, 0) AS DOUBLE)
       |      / CAST(t.tc AS DOUBLE), 9) AS precision,
       |    round(CAST(COALESCE(m.n_match, 0) AS DOUBLE)
       |      / CAST(t.tr AS DOUBLE), 9) AS recall,
       |    round(CAST(COALESCE(m.n_match, 0) AS DOUBLE) * 2
       |      / CAST(t.tc + t.tr AS DOUBLE), 9) AS f1
       |  FROM tot t LEFT JOIN m USING (pair_id)
       |)""".stripMargin
  }
}
