package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.SegmentDedup
import graft.ops.{Packing, Sampling}
import graft.sources.Tables
import graft.sources.Tables.{load => t}
import graft.text.TextAnalysis

/** q81–q84: the corpus-preparation tail of a pretraining data
  * pipeline — sub-document dedup, training-sequence packing, mixture
  * sampling, and TF-IDF keyword extraction. Every query carries an
  * exact DuckDB oracle; the cross-engine determinism comes from the
  * same conventions the earlier rounds pinned (single-space word
  * split, mix30 avalanche, round-9 doubles, rank-on-rounded-score).
  */
object CorpusEntry {

  // ---------------------------------------------------------------
  // q81 — paragraph-level exact dedup (C4/RefinedWeb boilerplate
  // removal): 12-word windows stand in for paragraphs (the synthetic
  // corpus has no "\n\n" structure; the operator takes any segment
  // expression). Global first-occurrence wins; docs are rebuilt from
  // surviving segments. Election shuffles (hash, length) keys only.
  // ---------------------------------------------------------------
  private def q81(s: SparkSession, dir: String): DataFrame =
    SegmentDedup.dedupSegments(
        t(s, dir, "documents").filter(length(trim(col("text"))) > 0),
        "doc_id", "text", words = 12)
      .orderBy("doc_id")

  // ---------------------------------------------------------------
  // q82 — GPT-style training-sequence packing: concatenate the corpus
  // in doc_id order, chop into 2048-token blocks, map every doc to
  // the sequences it occupies. The global prefix sum is the two-phase
  // bucket scan (driver sees <=256 scalars, never rows) — NOT a
  // single-reducer Window.orderBy.
  // ---------------------------------------------------------------
  private[graft] val BlockSize = 2048L

  private def q82(s: SparkSession, dir: String): DataFrame =
    Packing.sequenceManifest(
        t(s, dir, "documents")
          .filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"),
            TextAnalysis.wsTokenCount(col("text")).as("tok")),
        "doc_id", "tok", BlockSize)
      .orderBy("seq_id")

  // ---------------------------------------------------------------
  // q83 — token-budget mixture sampling: target 70% web / 20% books /
  // 10% code by tokens. The binding stratum survives whole; the rest
  // down-sample by the deterministic mix30 hash threshold — a pure
  // scan-level predicate, reproduced bit-for-bit by the oracle.
  // ---------------------------------------------------------------
  private val MixWeights = Map("web" -> 0.7, "books" -> 0.2, "code" -> 0.1)
  private val WebSrcs = (0 to 5).map("src" + _)
  private val BookSrcs = (6 to 13).map("src" + _)

  private def stratumCol(src: org.apache.spark.sql.Column) =
    when(src.isin(WebSrcs: _*), "web")
      .when(src.isin(BookSrcs: _*), "books")
      .otherwise("code")

  private def q83(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(
      col("doc_id"),
      stratumCol(col("source")).as("stratum"),
      TextAnalysis.wsTokenCount(col("text")).as("tok"))
    // ONE supply aggregate feeds both the sampler and the report's
    // fraction column
    val supply = Sampling.tokenSupply(d, "stratum", col("tok"))
    val kept = Sampling.mixtureByTokens(d, "stratum", "doc_id",
      MixWeights, supply)
    val fr = Sampling.mixtureFractions(supply, MixWeights).toSeq
    val frDf = s.createDataFrame(fr).toDF("stratum", "f")
    kept.groupBy("stratum")
      .agg(count(lit(1)).as("n_docs"), sum("tok").cast("long").as("n_tokens"))
      .join(broadcast(frDf), "stratum")
      .select(col("stratum"), col("n_docs"), col("n_tokens"),
        round(col("f"), 9).as("fraction"))
      .orderBy("stratum")
  }

  // ---------------------------------------------------------------
  // q84 — TF-IDF top-3 keywords per doc. Two partial-aggregatable
  // groupBys + a vocab-sized join; rank on the ROUNDED score so both
  // engines order identically.
  // ---------------------------------------------------------------
  private def q84(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.tfidfTopK(docs, "doc_id", "text", docs.count(), k = 3)
      .orderBy("doc_id", "rank")
  }

  // ---------------------------------------------------------------
  // q85 — CDC table diff: one full-outer hash join classifies every
  // key as insert/update/delete vs a simulated next version of
  // orders (deletes %97, price bumps %11, inserts %101 shifted by
  // 10M). The oracle rebuilds the same "after" table in SQL and
  // diffs it independently.
  // ---------------------------------------------------------------
  private def q85(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Cdc
    val before = t(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val after = before.filter(pmod(col("o_orderkey"), lit(97)) =!= 0)
      .withColumn("o_totalprice",
        when(pmod(col("o_orderkey"), lit(11)) === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
      .unionByName(before.filter(pmod(col("o_orderkey"), lit(101)) === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"), lit(1.0).as("o_totalprice")))
    Cdc.diff(before, after, Seq("o_orderkey"),
        Seq("o_orderstatus", "o_totalprice"))
      .orderBy("o_orderkey")
  }

  // ---------------------------------------------------------------
  // q86 — distribution drift (PSI) of o_totalprice, 1995–97 orders
  // vs 1998+ orders: fixed-bound 20-bin histogram per slice (one
  // partial agg each), Laplace-smoothed shares, per-bin (q−p)·ln(q/p).
  // ---------------------------------------------------------------
  private val DriftCut = "1998-01-01"

  private def q86(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Drift
    val orders = t(s, dir, "orders")
    val cut = to_timestamp(lit(DriftCut))
    Drift.psi(
        orders.filter(col("o_orderdate") < cut),
        orders.filter(col("o_orderdate") >= cut),
        "o_totalprice", lo = 0.0, hi = 500000.0, nBins = 20)
      .orderBy("bin")
  }

  // ---------------------------------------------------------------
  // q87 — point-in-time join (feature-store / SCD2-history lookup):
  // purchases open per-user "tier" versions (valid_from/valid_to via
  // one lead window); click/view facts are enriched with the tier
  // valid AT THEIR ts through the as-of carry — one shuffle + sort,
  // never an interval theta-join. NOTE events.ts is epoch-nanos LONG
  // under Tables.load's nanosAsLong; DuckDB sees TIMESTAMP_NS — the
  // comparisons order identically.
  // ---------------------------------------------------------------
  private def q87(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.PointInTime
    val ev = t(s, dir, "events")
    val hist = PointInTime.historyFromChanges(
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          greatest(least(floor(col("value") / 25.0).cast("long"), lit(3L)),
            lit(0L)).as("tier")),
      Seq("user_id"), "ts", tiebreak = Seq("event_id"))
    val facts = ev.filter(col("event_type").isin("click", "view"))
      .select("user_id", "ts", "event_type", "value")
    PointInTime.join(facts, hist, Seq("user_id"), "ts", Seq("tier"))
      .groupBy("event_type", "tier")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy("event_type", "tier")
  }

  // ---------------------------------------------------------------
  // q88 — warehouse VACUUM (retention sweep, Compaction's pair):
  // stage a live table plus three expired debris dirs (.staging/.old/
  // __compact_tmp aged 2h) and one FRESH .staging that an in-flight
  // swap might still own. Retention = 1h: the three expired go, the
  // fresh one and the live table survive. Contract-gated.
  // ---------------------------------------------------------------
  private def q88(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Vacuum
    import org.apache.hadoop.fs.Path
    val base = Scratch.fresh(s, "q88", dir)
    val fs = new Path(base)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val docs = t(s, dir, "documents")
    docs.coalesce(2).write.parquet(s"$base/docs")
    val debris = docs.limit(10).coalesce(1)
    val now = System.currentTimeMillis()
    Seq("docs.staging", "docs.old", "docs__compact_tmp").foreach { d =>
      debris.write.parquet(s"$base/$d")
      fs.setTimes(new Path(s"$base/$d"), now - 2 * 3600 * 1000L, -1)
    }
    // in-flight swap: the LIVE docs2 table exists while its fresh
    // .staging is being written (Vacuum's sibling rule: a swap-suffix
    // dir with no live sibling is a user dir, never debris)
    debris.write.parquet(s"$base/docs2")
    debris.write.parquet(s"$base/docs2.staging") // fresh: must survive
    val st = Vacuum.vacuum(s, base, retentionMs = 3600 * 1000L, now = now)
    import s.implicits._
    Seq((Tables.parquet(s, s"$base/docs").count(),
        st.nCandidates, st.nDeleted,
        fs.exists(new Path(s"$base/docs2.staging")),
        fs.exists(new Path(s"$base/docs"))))
      .toDF("n_rows", "n_candidates", "n_deleted", "fresh_kept", "table_kept")
  }

  // ---------------------------------------------------------------
  // q91 — percentile-thresholded quality filter ("drop the bottom
  // decile"): the exact type-1 p10 of the quality score (via the
  // q74-proven two-phase quantile harness) becomes the keep
  // predicate; per-language survivor stats are the gate. The
  // threshold itself is data-derived — no magic constants.
  // ---------------------------------------------------------------
  private def q91(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
    // exactQuantiles (r15): only exact_v feeds the threshold — the
    // sketch+rank-check half of the full harness was dead weight here
    val prof = graft.quality.Profile
      .exactQuantiles(scored, Seq("quality"), Seq(0.1))
      .head()
    val thr = prof.getAs[Double]("exact_v")
    scored.filter(col("quality") >= thr)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
        round(min(col("quality")), 9).as("min_quality"))
      .withColumn("threshold", round(lit(thr), 9))
      .orderBy("lang")
  }

  // ---------------------------------------------------------------
  // q92 — context-length truncation: cap every doc at 32 tokens (the
  // trainer's max-sequence clip), keeping the prefix. Pure per-row
  // expression — zero shuffles beyond the output sort. The gate
  // verifies the truncated CONTENT via the cross-engine rolling
  // fingerprint, not just the counts.
  // ---------------------------------------------------------------
  private val MaxTokens = 32

  private def q92(s: SparkSession, dir: String): DataFrame = {
    val toks = split(trim(col("text")), " ")
    val n = size(toks).cast("long")
    val clipped = when(n > MaxTokens,
      array_join(slice(toks, 1, MaxTokens), " ")).otherwise(trim(col("text")))
    t(s, dir, "documents").select(
        col("doc_id"),
        n.as("n_tokens"),
        least(n, lit(MaxTokens.toLong)).as("kept_tokens"),
        (n > MaxTokens).as("was_truncated"),
        TextAnalysis.rollingFingerprint(clipped).as("fp"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // q93 — BM25 ranked retrieval (lexical search, the sparse
  // counterpart of the ANN family): top-20 docs for a 3-term query.
  // Per-term scores round to 9dp and sum as DECIMAL (exact,
  // order-independent), so shuffle reduction order can't flip ranks.
  // ---------------------------------------------------------------
  private val Bm25Terms = Seq("spark", "fast", "merge")

  private def q93(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25Search(t(s, dir, "documents"), "doc_id", "text",
      Bm25Terms, topK = 20)

  // ---------------------------------------------------------------
  // q94 — hybrid retrieval: BM25 top-20 (lexical) ∪ cosine top-20
  // (dense, query = vec 0) fused by reciprocal-rank fusion
  // (1/(60+r), the standard RRF constant). Both legs are rank-stable
  // by construction (q93's decimal sums, q27's bit-reproducible
  // sequential-double cosine), so the fused order is deterministic.
  // The post-leg windows/sorts touch ≤20 rows — metadata-sized.
  // ---------------------------------------------------------------
  private def q94(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = TextAnalysis.bm25Search(t(s, dir, "documents"), "doc_id", "text",
        Bm25Terms, topK = 20)
      .withColumn("lr", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("lr"))
    val vecs = t(s, dir, "embeddings")
    val dense = graft.ann.Ann.bruteForceTopK(vecs,
        vecs.filter(col("vec_id") === 0), "vec_id", "embedding", k = 20)
      .select(col("neighbor_id").as("doc_id"), col("rk").as("dr"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60) + col("lr")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("dr")), lit(0.0)), 9))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
      .select("doc_id", "lr", "dr", "rrf")
  }


  // ---------------------------------------------------------------
  // q128 — frequency-threshold boilerplate removal (the complement
  // of q81's first-occurrence dedup): drop EVERY copy of any 12-word
  // segment appearing in more than maxDf=3 distinct docs. The
  // fixture plants real boilerplate — a constant 12-word banner
  // prepended to every 4th doc — which q81 would keep once but q128
  // removes everywhere; organic cross-doc repeats at df <= 3
  // survive. df shuffles (hash, length) keys only; the blocked set
  // is the boilerplate vocabulary, joined back LEFT ANTI.
  // ---------------------------------------------------------------
  private val Banner =
    "legal notice all rights reserved contact us terms of service apply here"

  private def q128(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit(Banner + " "), col("text"))).otherwise(col("text")))
    SegmentDedup.dropFrequentSegments(docs, "doc_id",
        SegmentDedup.wordChunks(col("text"), 12), maxDf = 3L)
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q128_boilerplate_df" -> (q128 _),
    "q94_hybrid_search" -> (q94 _),
    "q93_bm25_search" -> (q93 _),
    "q92_truncate_tokens" -> (q92 _),
    "q91_quality_filter" -> (q91 _),
    "q81_paragraph_dedup" -> (q81 _),
    "q82_sequence_packing" -> (q82 _),
    "q83_mixture_sampling" -> (q83 _),
    "q84_tfidf_keywords" -> (q84 _),
    "q85_cdc_diff" -> (q85 _),
    "q86_drift_psi" -> (q86 _),
    "q87_pit_join" -> (q87 _),
    "q88_vacuum" -> (q88 _))

  private val StratumSql =
    s"""CASE WHEN source IN (${WebSrcs.map("'" + _ + "'").mkString(",")}) THEN 'web'
       |     WHEN source IN (${BookSrcs.map("'" + _ + "'").mkString(",")}) THEN 'books'
       |     ELSE 'code' END""".stripMargin

  // CAST to DOUBLE: bare 0.7 is DECIMAL in DuckDB, and decimal
  // division would diverge from the Scala side's IEEE double math
  private val WeightSql =
    """CASE stratum WHEN 'web' THEN CAST(0.7 AS DOUBLE)
      |  WHEN 'books' THEN CAST(0.2 AS DOUBLE)
      |  ELSE CAST(0.1 AS DOUBLE) END""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // q128: identical segmentation to q81's oracle; df on the raw
    // segment text (graft's (hash, length) key must agree), drop at
    // df > 3 — the banner (on every 4th doc) vanishes everywhere.
    "q128_boilerplate_df" ->
      s"""WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN '$Banner ' || text ELSE text END AS text
        |  FROM documents WHERE length(trim(text)) > 0
        |), t AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS w FROM base
        |), segs AS (
        |  SELECT doc_id, pos,
        |    array_to_string(w[pos*12+1 : least((pos+1)*12, len(w))], ' ') AS seg
        |  FROM (SELECT doc_id, w,
        |          unnest(range(0, CAST(ceil(len(w) / 12.0) AS INT))) AS pos
        |        FROM t)
        |), df AS (
        |  SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY seg
        |), keep AS (
        |  SELECT s.doc_id, s.pos, s.seg
        |  FROM segs s JOIN df ON s.seg = df.seg WHERE df.df <= 3
        |), reb AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(seg, ' ' ORDER BY pos) AS text_kept
        |  FROM keep GROUP BY doc_id
        |), tot AS (
        |  SELECT doc_id, count(*) AS n_segs FROM segs GROUP BY doc_id
        |)
        |SELECT b.doc_id, tot.n_segs,
        |  coalesce(reb.n_kept, 0) AS n_kept,
        |  coalesce(reb.text_kept, '') AS text_kept
        |FROM base b JOIN tot USING (doc_id) LEFT JOIN reb USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q81_paragraph_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS w
        |  FROM documents WHERE length(trim(text)) > 0
        |), segs AS (
        |  SELECT doc_id, pos,
        |    array_to_string(w[pos*12+1 : least((pos+1)*12, len(w))], ' ') AS seg
        |  FROM (SELECT doc_id, w,
        |          unnest(range(0, CAST(ceil(len(w) / 12.0) AS INT))) AS pos
        |        FROM t)
        |), win AS (
        |  SELECT doc_id, pos, seg,
        |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
        |  FROM segs
        |), reb AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(seg, ' ' ORDER BY pos) AS text_kept
        |  FROM win WHERE rn = 1 GROUP BY doc_id
        |), tot AS (
        |  SELECT doc_id, count(*) AS n_segs FROM segs GROUP BY doc_id
        |)
        |SELECT t.doc_id, t.n_segs,
        |  CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
        |  COALESCE(r.text_kept, '') AS text_kept
        |FROM tot t LEFT JOIN reb r ON t.doc_id = r.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "q82_sequence_packing" ->
      s"""WITH d AS (
         |  SELECT doc_id, CAST(${PipelineEntry.WsTokSql} AS BIGINT) AS tok
         |  FROM documents WHERE length(trim(text)) > 0
         |), c AS (
         |  SELECT doc_id, tok,
         |    CAST(COALESCE(sum(tok) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
         |  FROM d WHERE tok > 0
         |), s AS (
         |  SELECT doc_id, tok, off,
         |    unnest(range(off // $BlockSize, (off + tok - 1) // $BlockSize + 1)) AS seq_id
         |  FROM c
         |)
         |SELECT seq_id, count(*) AS n_docs,
         |  CAST(sum(least((seq_id + 1) * $BlockSize, off + tok)
         |           - greatest(seq_id * $BlockSize, off)) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM s GROUP BY seq_id ORDER BY seq_id""".stripMargin,
    "q83_mixture_sampling" ->
      s"""WITH d AS (
         |  SELECT doc_id, $StratumSql AS stratum, CAST(${PipelineEntry.WsTokSql} AS BIGINT) AS tok
         |  FROM documents
         |), sup AS (
         |  SELECT stratum, CAST(sum(tok) AS BIGINT) AS t, min($WeightSql) AS w
         |  FROM d GROUP BY stratum
         |), bud AS (
         |  SELECT min(t / w) AS b FROM sup
         |), fr AS (
         |  SELECT stratum, (b.b * w) / t AS f FROM sup, bud b
         |), kept AS (
         |  SELECT d.doc_id, d.stratum, d.tok, fr.f
         |  FROM d JOIN fr USING (stratum)
         |  WHERE ${Sampling.mix30Sql("doc_id")} % 1048576
         |    < CAST(floor(f * 1048576) AS BIGINT)
         |)
         |SELECT stratum, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens,
         |  round(min(f), 9) AS fraction
         |FROM kept GROUP BY stratum ORDER BY stratum""".stripMargin,
    "q84_tfidf_keywords" ->
      """WITH w2 AS (
        |  SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
        |    FROM documents) WHERE word <> ''
        |), tf AS (
        |  SELECT doc_id, word, count(*) AS tf FROM w2 GROUP BY doc_id, word
        |), dfq AS (
        |  SELECT word, count(*) AS df FROM tf GROUP BY word
        |), nd AS (
        |  SELECT count(*) AS n FROM documents
        |), scored AS (
        |  SELECT t.doc_id, t.word, t.tf, d.df,
        |    round(t.tf * ln((n + 1.0) / (d.df + 1)), 9) AS score
        |  FROM tf t JOIN dfq d USING (word), nd
        |), r AS (
        |  SELECT doc_id, word, tf, df, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, word) AS INT) AS rank
        |  FROM scored
        |)
        |SELECT doc_id, rank, word, tf, df, score
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q85_cdc_diff" ->
      """WITH b AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |), a AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 11 = 0
        |         THEN o_totalprice + CAST(1.0 AS DOUBLE)
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, 'N', CAST(1.0 AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 101 = 0
        |), j AS (
        |  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |    CASE WHEN b.o_orderkey IS NULL THEN 'insert'
        |         WHEN a.o_orderkey IS NULL THEN 'delete'
        |         WHEN b.o_orderstatus IS DISTINCT FROM a.o_orderstatus
        |           OR b.o_totalprice IS DISTINCT FROM a.o_totalprice
        |         THEN 'update' END AS change,
        |    b.o_orderstatus AS before_o_orderstatus,
        |    b.o_totalprice AS before_o_totalprice,
        |    a.o_orderstatus AS after_o_orderstatus,
        |    a.o_totalprice AS after_o_totalprice
        |  FROM b FULL OUTER JOIN a ON b.o_orderkey = a.o_orderkey
        |)
        |SELECT * FROM j WHERE change IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,
    "q86_drift_psi" ->
      s"""WITH bb AS (
         |  SELECT least(greatest(CAST(floor((o_totalprice - CAST(0.0 AS DOUBLE))
         |      / CAST(25000.0 AS DOUBLE)) AS BIGINT), 0), 19) AS bin,
         |    count(*) AS n
         |  FROM orders
         |  WHERE o_orderdate < TIMESTAMP '$DriftCut' AND o_totalprice IS NOT NULL
         |  GROUP BY 1
         |), cc AS (
         |  SELECT least(greatest(CAST(floor((o_totalprice - CAST(0.0 AS DOUBLE))
         |      / CAST(25000.0 AS DOUBLE)) AS BIGINT), 0), 19) AS bin,
         |    count(*) AS n
         |  FROM orders
         |  WHERE o_orderdate >= TIMESTAMP '$DriftCut' AND o_totalprice IS NOT NULL
         |  GROUP BY 1
         |), j AS (
         |  SELECT bins.bin,
         |    CAST(COALESCE(bb.n, 0) AS BIGINT) AS n_base,
         |    CAST(COALESCE(cc.n, 0) AS BIGINT) AS n_cur
         |  FROM (SELECT unnest(range(0, 20)) AS bin) bins
         |  LEFT JOIN bb USING (bin) LEFT JOIN cc USING (bin)
         |), sh AS (
         |  SELECT bin, n_base, n_cur,
         |    (n_base + CAST(0.5 AS DOUBLE))
         |      / (sum(n_base) OVER () + CAST(10.0 AS DOUBLE)) AS p,
         |    (n_cur + CAST(0.5 AS DOUBLE))
         |      / (sum(n_cur) OVER () + CAST(10.0 AS DOUBLE)) AS q
         |  FROM j
         |)
         |SELECT bin, n_base, n_cur, round(p, 9) AS p, round(q, 9) AS q,
         |  round((q - p) * ln(q / p), 9) AS psi_contrib
         |FROM sh ORDER BY bin""".stripMargin,
    "q87_pit_join" ->
      """WITH p AS (
        |  SELECT user_id, ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |    greatest(least(CAST(floor(value / CAST(25.0 AS DOUBLE)) AS BIGINT), 3), 0) AS tier
        |  FROM events WHERE event_type = 'purchase'
        |), f AS (
        |  SELECT user_id, ts, event_type, value FROM events
        |  WHERE event_type IN ('click', 'view')
        |), j AS (
        |  SELECT f.event_type, p.tier, f.value
        |  FROM f LEFT JOIN p ON f.user_id = p.user_id
        |    AND p.valid_from <= f.ts
        |    AND (p.valid_to IS NULL OR f.ts < p.valid_to)
        |)
        |SELECT event_type, tier, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM j GROUP BY event_type, tier
        |ORDER BY event_type, tier""".stripMargin,
    "q88_vacuum" ->
      """SELECT count(*) AS n_rows, 4 AS n_candidates, 3 AS n_deleted,
        |  TRUE AS fresh_kept, TRUE AS table_kept
        |FROM documents""".stripMargin,
    "q91_quality_filter" ->
      s"""WITH scored AS (
         |  SELECT doc_id, lang, ${PipelineEntry.QualitySql} AS quality
         |  FROM documents
         |), thr AS (
         |  SELECT quantile_disc(quality, 0.1) AS t FROM scored
         |)
         |SELECT lang, count(*) AS n_kept,
         |  round(min(quality), 9) AS min_quality,
         |  round(min(t), 9) AS threshold
         |FROM scored, thr WHERE quality >= t
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q92_truncate_tokens" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(trim(text), ' ') AS w,
         |    CAST(${PipelineEntry.WsTokSql} AS BIGINT) AS n, trim(text) AS tt
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, n, least(n, $MaxTokens) AS kept,
         |    n > $MaxTokens AS was_truncated,
         |    CASE WHEN n > $MaxTokens
         |         THEN array_to_string(w[1:$MaxTokens], ' ') ELSE tt END AS txt
         |  FROM t
         |)
         |SELECT doc_id, n AS n_tokens, CAST(kept AS BIGINT) AS kept_tokens,
         |  was_truncated,
         |  CASE WHEN length(txt) = 0 THEN 0 ELSE
         |    list_reduce(
         |      list_prepend(CAST(0 AS BIGINT),
         |        list_transform(range(1, length(txt) + 1),
         |          i -> CAST(ascii(substr(txt, i, 1)) AS BIGINT))),
         |      (acc, c) -> (acc * 31 + c) % 1000000007)
         |  END AS fp
         |FROM c ORDER BY doc_id""".stripMargin,
    // every float step mirrors the Column expression's association
    // order; per-term scores round to 9dp then sum as DECIMAL, so the
    // total is order-independent in both engines
    "q93_bm25_search" ->
      s"""WITH $Bm25Cte
         |SELECT doc_id, score, n_terms_hit
         |FROM bm ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "q94_hybrid_search" ->
      s"""WITH $Bm25Cte, lextop AS (
         |  SELECT doc_id, score FROM bm ORDER BY score DESC, doc_id LIMIT 20
         |), lex AS (
         |  SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY score DESC, doc_id) AS INT) AS lr
         |  FROM lextop
         |), qv AS (
         |  SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS a
         |  FROM embeddings WHERE vec_id = 0
         |), cv AS (
         |  SELECT vec_id AS doc_id,
         |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS b
         |  FROM embeddings WHERE vec_id <> 0
         |), cos AS (
         |  SELECT doc_id, ${PipelineEntry.cosSql("a", "b")} AS cos
         |  FROM cv, qv
         |), dense AS (
         |  SELECT doc_id, CAST(rk AS INT) AS dr FROM (
         |    SELECT doc_id,
         |      row_number() OVER (ORDER BY cos DESC, doc_id) AS rk
         |    FROM cos)
         |  WHERE rk <= 20
         |)
         |SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id, l.lr, d.dr,
         |  round(COALESCE(CAST(1.0 AS DOUBLE) / (60 + l.lr), CAST(0 AS DOUBLE))
         |    + COALESCE(CAST(1.0 AS DOUBLE) / (60 + d.dr), CAST(0 AS DOUBLE)),
         |    9) AS rrf
         |FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin)

  /** Shared BM25 CTE chain (lens → corpus stats → tf → df → rounded
    * per-term decimal scores → per-doc totals). No leading WITH.
    */
  private lazy val Bm25Cte: String =
    s"""lens AS (
       |  SELECT doc_id, CAST(${PipelineEntry.WsTokSql} AS BIGINT) AS len FROM documents
       |), corpus AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    (CAST(sum(${PipelineEntry.WsTokSql}) AS DOUBLE) / CAST(count(*) AS BIGINT)) AS avg_len
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
       |    FROM documents)
       |  WHERE term IN (${Bm25Terms.map("'" + _ + "'").mkString(", ")})
       |  GROUP BY doc_id, term
       |), dfreq AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term
       |), bmscored AS (
       |  SELECT t.doc_id,
       |    CAST(round(
       |      (ln(CAST(1.0 AS DOUBLE)
       |          + ((CAST(c.n AS DOUBLE) - d.df + CAST(0.5 AS DOUBLE))
       |             / (d.df + CAST(0.5 AS DOUBLE))))
       |       * (t.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))))
       |      / (t.tf + (CAST(1.2 AS DOUBLE)
       |          * (CAST(0.25 AS DOUBLE)
       |             + ((CAST(0.75 AS DOUBLE) * l.len) / c.avg_len)))),
       |      9) AS DECIMAL(28,9)) AS s
       |  FROM tf t JOIN dfreq d USING (term)
       |  JOIN lens l ON t.doc_id = l.doc_id, corpus c
       |), bm AS (
       |  SELECT doc_id, CAST(sum(s) AS DOUBLE) AS score,
       |    count(*) AS n_terms_hit
       |  FROM bmscored GROUP BY doc_id
       |)""".stripMargin
}
