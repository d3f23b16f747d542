package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextHashes

/** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
  * for Language Models via Importance Resampling", arXiv:2302.03169):
  * score every corpus doc by how much its word-bigram distribution
  * looks like a small TARGET set (the high-quality exemplar corpus —
  * wiki/books in the paper), then keep the high scorers. The paper
  * samples ∝ exp(score); we surface the per-doc mean importance
  * ratio and leave the draw to the sampling family (q97's A-ES or a
  * plain threshold) — the heavy lift is the scoring pass.
  *
  * Per gram occurrence g the importance ratio is Laplace-smoothed
  *   λ(g) = [(c_t(g)+1)/(N_t+V)] / [(c_c(g)+1)/(N_c+V)]
  * with c_t/c_c the target/corpus occurrence counts, N_t/N_c the
  * total occurrence masses, and V the corpus gram vocabulary size.
  * The doc score is the mean of λ over the doc's gram OCCURRENCES
  * (multiplicity matters — DSIR models token mass, so this family
  * deliberately does NOT reuse the distinct-set gram sketch).
  *
  * Scale shape: grams explode once (barrier'd — feeds the corpus
  * count and the score join); corpus counts are a partial-
  * aggregatable 8-byte-hash groupBy; the count join-back is the
  * big-big hash join (q137/q164's shape, AQE-skew-splittable);
  * target counts broadcast (the target set is small by construction);
  * the three distribution scalars (N_t, N_c, V) are one bounded
  * driver collect (BM25's precedent, q93). Cross-engine exactness:
  * λ is a chain of exact-integer→double divisions (IEEE-identical in
  * both engines when written in the same association), then
  * µ-quantized to BIGINT (q115's floor(x·10⁶+0.5)) so the per-doc
  * aggregation is order-independent integer math; the mean surfaces
  * as round(sum/(n·10⁶), 9) — q150/q155's discipline.
  */
object Dsir {

  /** Word bigrams with multiplicity, lowercased, `\s+`-tokenized —
    * the gram family's normalization (q64/q129), WITHOUT the
    * distinct: DSIR weights occurrence mass. Docs under 2 tokens
    * contribute their whole text as one gram (family fallback rule).
    */
  private[graft] def bigramsWithMultiplicity(text: Column): Column =
    // native codegen'd loop (TextHashExprs.WordNgrams) — the HOF
    // transform/element_at form re-evaluated the token split per
    // output gram (O(tokens²) per row, interpreted). joinFallback
    // pins the family fallback: < 2 tokens → [array_join(toks, ' ')].
    graft.functions.TextHashes.wordNgrams(text, 2, joinFallback = true)

  /** @param target the exemplar docs (same schema); must be small —
    *                its gram table broadcasts.
    * @return (doc_id, n_grams, dsir_score) per corpus doc.
    */
  def score(corpus: DataFrame, target: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val grams = graft.plans.Plans.barrier(corpus.select(col(idCol).as("doc_id"),
      explode(bigramsWithMultiplicity(col(textCol))).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("gh")))
    val corpusCounts = graft.plans.Plans.barrier(
      grams.groupBy("gh").agg(count(lit(1)).as("c_c")))
    val targetCounts = target
      .select(explode(bigramsWithMultiplicity(col(textCol))).as("g"))
      .select(xxhash64(col("g")).as("gh"))
      .groupBy("gh").agg(count(lit(1)).as("c_t"))

    // three scalars: corpus mass + vocabulary, target mass. Bounded
    // driver collect (BM25's precedent) — never a per-row recompute.
    val cRow = corpusCounts.agg(sum(col("c_c")), count(lit(1))).head()
    val nC = if (cRow.isNullAt(0)) 0L else cRow.getLong(0)
    val v = cRow.getLong(1)
    val tRow = targetCounts.agg(sum(col("c_t"))).head()
    val nT = if (tRow.isNullAt(0)) 0L else tRow.getLong(0)

    // λ written in the exact association the oracle restates:
    // ((c_t+1)/(N_t+V)) / ((c_c+1)/(N_c+V)) — integer-valued doubles
    // in, one exactly-rounded division chain out.
    val lam = ((col("c_t").cast("double") + lit(1.0)) /
        lit((nT + v).toDouble)) /
      ((col("c_c").cast("double") + lit(1.0)) / lit((nC + v).toDouble))
    grams
      .join(corpusCounts, Seq("gh"))
      .join(broadcast(targetCounts), Seq("gh"), "left")
      .na.fill(0L, Seq("c_t"))
      .withColumn("lamq", floor(lam * lit(1000000.0) + lit(0.5)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        round(sum(col("lamq")).cast("double") /
          (count(lit(1)) * lit(1000000.0)), 9).as("dsir_score"))
  }

  /** Metadata every [[corpusIndex]] row carries and the probe
    * validates (the q110/q325 index discipline: a probe against a
    * foreign or stale artifact fails/rebuilds, never silently scores
    * against the wrong distribution). */
  private[graft] val IndexMetaCols = Seq("dsir_fam", "ref_rows", "ref_fp")

  /** Family tag pinning the gram normalization + smoothing this
    * index serves (occurrence-mass word bigrams, Laplace-smoothed
    * ratio). A different family must write a different tag. */
  val IndexFamily = "dsir-bigram-mass-1"

  /** The persisted raw-corpus distribution — DSIR's production
    * shape (the q325 lesson applied to the registry's top remaining
    * steady-state heavy): the corpus is tokenized and counted ONCE,
    * the (gram-hash, count) table lands in parquet (8-byte keys,
    * gram text never persisted or shuffled), and every scoring batch
    * pays only its own gram explode + one keyed join — O(batch), the
    * corpus is never rescanned. N_c and V derive from the index
    * itself (vocabulary-sized scan). Metadata rides as RLE'd
    * constants; `ref_rows`/`ref_fp` fingerprint the TRAINING corpus
    * (LmFilter.referenceFingerprint's XOR+SUM combine).
    */
  def corpusIndex(corpus: DataFrame, textCol: String): DataFrame =
    corpusIndex(corpus, textCol,
      graft.ops.ArtifactIndex.fingerprint(corpus, textCol))

  /** [[corpusIndex]] with the corpus signature supplied by the
    * caller (the freshness-mode seam — fingerprint pair or
    * (ArtifactIndex.TokenRows, token)). */
  def corpusIndex(corpus: DataFrame, textCol: String,
      sig: (Long, Long)): DataFrame = {
    val fp = sig
    corpus.select(explode(bigramsWithMultiplicity(col(textCol))).as("g"))
      .select(xxhash64(col("g")).as("gh"))
      .groupBy("gh").agg(count(lit(1)).as("c_c"))
      .select(col("gh"), col("c_c"),
        lit(IndexFamily).as("dsir_fam"),
        lit(fp._1).as("ref_rows"), lit(fp._2).as("ref_fp"))
  }

  /** Score a batch against a persisted [[corpusIndex]] — same output
    * contract as [[score]] (doc_id, n_grams, dsir_score), with the
    * corpus distribution read from the index instead of recounted.
    * Batch grams unseen in the corpus take the smoothed floor
    * (c_c = 0 → c_c+1 = 1), so a batch need not be a corpus subset.
    */
  def scoreAgainstIndex(index: DataFrame, batch: DataFrame,
      target: DataFrame, idCol: String, textCol: String): DataFrame = {
    require(IndexMetaCols.forall(index.columns.contains),
      s"index carries no DSIR metadata (${IndexMetaCols.mkString("/")}) — " +
        "rebuild it with Dsir.corpusIndex")
    scoreAgainstIndexMeta(index,
      index.select("dsir_fam").head(1).headOption,
      batch, target, idCol, textCol)
  }

  /** [[scoreAgainstIndex]] with the metadata row already in hand —
    * the indexed entry point reads it once via
    * [[graft.ops.ArtifactIndex.buildOrReuseMeta]] (r15: one first-row
    * scan per probe instead of two). Needs dsir_fam at position 0;
    * None = empty artifact, same loud require as before. */
  private def scoreAgainstIndexMeta(index: DataFrame,
      fam: Option[org.apache.spark.sql.Row],
      batch: DataFrame, target: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    // an empty index would score every batch gram at the smoothed
    // floor with N_c=0/V=0 — a silently-wrong all-zero distribution;
    // fail loudly instead (ADVICE r10)
    require(fam.nonEmpty,
      "DSIR index is empty — rebuild it with Dsir.corpusIndex over a " +
        "non-empty corpus")
    fam.foreach { r =>
      require(r.getString(0) == IndexFamily,
        s"index is a '${r.getString(0)}' artifact but this scorer " +
          s"implements '$IndexFamily'")
    }
    val corpusCounts = index.select(col("gh"), col("c_c"))
    val targetCounts = target
      .select(explode(bigramsWithMultiplicity(col(textCol))).as("g"))
      .select(xxhash64(col("g")).as("gh"))
      .groupBy("gh").agg(count(lit(1)).as("c_t"))
    // scalars from the INDEX (vocabulary-sized) — identical values
    // to a fresh corpus count, no corpus rescan
    val cRow = corpusCounts.agg(sum(col("c_c")), count(lit(1))).head()
    val nC = if (cRow.isNullAt(0)) 0L else cRow.getLong(0)
    val v = cRow.getLong(1)
    val tRow = targetCounts.agg(sum(col("c_t"))).head()
    val nT = if (tRow.isNullAt(0)) 0L else tRow.getLong(0)
    val lam = ((col("c_t").cast("double") + lit(1.0)) /
        lit((nT + v).toDouble)) /
      ((col("c_c").cast("double") + lit(1.0)) / lit((nC + v).toDouble))
    batch.select(col(idCol).as("doc_id"),
        explode(bigramsWithMultiplicity(col(textCol))).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("gh"))
      .join(corpusCounts, Seq("gh"), "left")
      .join(broadcast(targetCounts), Seq("gh"), "left")
      .na.fill(0L, Seq("c_c", "c_t"))
      .withColumn("lamq", floor(lam * lit(1000000.0) + lit(0.5)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        round(sum(col("lamq")).cast("double") /
          (count(lit(1)) * lit(1000000.0)), 9).as("dsir_score"))
  }

  /** Build-or-reuse the persisted corpus distribution at `path`,
    * then score the batch: the train-once/score-many loop
    * ([[graft.text.LmFilter.indexedBigramLogprob]]'s contract,
    * through the shared [[graft.ops.ArtifactIndex.buildOrReuse]]).
    * An existing index is trusted only if its stored signature
    * matches the CURRENT corpus under the caller's `freshness`
    * choice — the default fingerprint scans the corpus once per
    * probe; `Token(v)` compares two longs and never scans it (the
    * 100-TB probe cost model: O(batch + metadata)). Any mismatch,
    * foreign family, or read failure rebuilds via the staged swap —
    * a torn artifact can never abort a scoring job or serve stale
    * counts.
    */
  def indexedScore(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      corpus: DataFrame,
      target: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      freshness: graft.ops.ArtifactIndex.Freshness =
        graft.ops.ArtifactIndex.Fingerprint): DataFrame = {
    val sig = graft.ops.ArtifactIndex.signature(freshness, corpus, textCol)
    val (idx, meta) = graft.ops.ArtifactIndex.buildOrReuseMeta(spark, path,
      IndexMetaCols, r =>
        r.getString(0) == IndexFamily &&
          (r.getLong(1), r.getLong(2)) == sig) { staging =>
      corpusIndex(corpus, textCol, sig)
        .write.mode("overwrite").parquet(staging)
    }
    scoreAgainstIndexMeta(idx, meta, batch, target, idCol, textCol)
  }

  /** The SAME scoring as DuckDB SQL: `corpusSql`/`targetSql` are
    * SELECTs yielding (doc_id, text) / (text). Generated from one
    * shared shape so the oracle cannot drift from the operator.
    */
  def sql(corpusSql: String, targetSql: String): String = {
    s"""WITH cg AS MATERIALIZED (
       |  ${gramCteSql(corpusSql, withId = true)}
       |), cc AS MATERIALIZED (
       |  SELECT g, count(*) AS c_c FROM cg GROUP BY g
       |), tc AS MATERIALIZED (
       |  SELECT g, count(*) AS c_t FROM (
       |  ${gramCteSql(targetSql, withId = false)}
       |  ) GROUP BY g
       |), s AS MATERIALIZED (
       |  SELECT CAST((SELECT sum(c_c) FROM cc) AS BIGINT) AS n_c,
       |         CAST((SELECT count(*) FROM cc) AS BIGINT) AS v,
       |         CAST(coalesce((SELECT sum(c_t) FROM tc), 0) AS BIGINT) AS n_t
       |)
       |SELECT cg.doc_id, count(*) AS n_grams,
       |  round(CAST(sum(CAST(floor(
       |      ((CAST(coalesce(tc.c_t, 0) AS DOUBLE) + 1.0)
       |          / CAST(s.n_t + s.v AS DOUBLE))
       |        / ((CAST(cc.c_c AS DOUBLE) + 1.0)
       |          / CAST(s.n_c + s.v AS DOUBLE))
       |      * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |    / (count(*) * 1000000.0), 9) AS dsir_score
       |FROM cg JOIN cc USING (g) LEFT JOIN tc USING (g) CROSS JOIN s
       |GROUP BY cg.doc_id""".stripMargin
  }

  private def gramCteSql(src: String, withId: Boolean): String = {
    val idSel = if (withId) "doc_id, " else ""
    s"""SELECT ${idSel}unnest(
       |    CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
       |         ELSE list_transform(range(1, len(t)),
       |           i -> t[i] || ' ' || t[i+1])
       |    END) AS g
       |  FROM (SELECT ${idSel}${TextHashes.wordTokensSql("text")} AS t
       |        FROM ($src))""".stripMargin
  }

  /** The batch-scoring twin of [[sql]] — the q331 oracle: corpus
    * counts (and N_c/V) from `corpusSql`, target counts from
    * `targetSql`, but only `batchSql`'s docs scored, with the LEFT
    * join + smoothed c_c=0 floor [[scoreAgainstIndex]] applies for
    * batch grams unseen in the corpus. Index transparency is the
    * gated property: the oracle recomputes the corpus distribution
    * from scratch and must match a probe through the persisted one.
    */
  def sqlBatch(corpusSql: String, targetSql: String,
      batchSql: String): String = {
    s"""WITH bg AS MATERIALIZED (
       |  ${gramCteSql(batchSql, withId = true)}
       |), cc AS MATERIALIZED (
       |  SELECT g, count(*) AS c_c FROM (
       |  ${gramCteSql(corpusSql, withId = false)}
       |  ) GROUP BY g
       |), tc AS MATERIALIZED (
       |  SELECT g, count(*) AS c_t FROM (
       |  ${gramCteSql(targetSql, withId = false)}
       |  ) GROUP BY g
       |), s AS MATERIALIZED (
       |  SELECT CAST((SELECT sum(c_c) FROM cc) AS BIGINT) AS n_c,
       |         CAST((SELECT count(*) FROM cc) AS BIGINT) AS v,
       |         CAST(coalesce((SELECT sum(c_t) FROM tc), 0) AS BIGINT) AS n_t
       |)
       |SELECT bg.doc_id, count(*) AS n_grams,
       |  round(CAST(sum(CAST(floor(
       |      ((CAST(coalesce(tc.c_t, 0) AS DOUBLE) + 1.0)
       |          / CAST(s.n_t + s.v AS DOUBLE))
       |        / ((CAST(coalesce(cc.c_c, 0) AS DOUBLE) + 1.0)
       |          / CAST(s.n_c + s.v AS DOUBLE))
       |      * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |    / (count(*) * 1000000.0), 9) AS dsir_score
       |FROM bg LEFT JOIN cc USING (g) LEFT JOIN tc USING (g) CROSS JOIN s
       |GROUP BY bg.doc_id""".stripMargin
  }
}
