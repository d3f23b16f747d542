package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Cidr, Geo, Sampling}
import graft.sources.Tables.{load => t}

/** q247+: network / spatial / lifecycle signal operators — CIDR
  * longest-prefix IP classification, integer-grid spatial radius
  * join and stencil density, and the applied-analytics tail that
  * builds on them. Same conventions as the earlier entry objects:
  * deterministic fixtures derived from the driver corpus via the
  * portable mix30 coin, oracles restating the semantics in DuckDB
  * SQL generated from the SAME Scala constants as the Spark plan.
  */
object SignalsEntry {

  /** Shared q250/q270 oracle chain: the α=1/4, β=1/10 fixed-point
    * Holt recursion over `daily` (needs WITH RECURSIVE +
    * [[StatsEntry.DailyCte]] in scope); ends in
    * `rec(g, day, x, i, lvl, trd, fc)`.
    */
  private[graft] lazy val HoltCte: String =
    """idx AS (
      |  SELECT g, day, x,
      |    row_number() OVER (PARTITION BY g ORDER BY day) AS i
      |  FROM daily
      |), rec AS (
      |  SELECT g, day, x, i, x * 1000000 AS lvl,
      |    CAST(0 AS BIGINT) AS trd, x * 1000000 AS fc
      |  FROM idx WHERE i = 1
      |  UNION ALL
      |  SELECT g, day, x, i, lvl2 AS lvl,
      |    ((lvl2 - plvl) * 1 + ptrd * 9) // 10 AS trd,
      |    plvl + ptrd AS fc
      |  FROM (
      |    SELECT n.g, n.day, n.x, n.i, r.lvl AS plvl, r.trd AS ptrd,
      |      (n.x * 1000000 * 1 + (r.lvl + r.trd) * 3) // 4 AS lvl2
      |    FROM rec r JOIN idx n ON n.g = r.g AND n.i = r.i + 1) s
      |)""".stripMargin

  // ---------------------------------------------------------------
  // q247 — CIDR longest-prefix match (ops/Cidr.lpm): classify
  // synthetic client IPs against a nested rule table (a /12 inside
  // a /8 inside a /4 — the override chain that makes LPM matter)
  // and roll up per network label. The match itself is k left
  // broadcast joins (k = distinct prefix lengths), zero shuffles
  // of the event stream.
  // ---------------------------------------------------------------

  /** Nested rule fixture. Unusual-but-valid short prefixes (/4, /8,
    * /12) so every scale factor, including the 1000-row smoke SF,
    * populates every label of the uniform 32-bit address space.
    * Shared by the Spark plan and the generated oracle CASE.
    */
  private val cidrRules = Seq(
    Cidr.Rule(0x00000000L, 4, "net-a"),
    Cidr.Rule(0x05000000L, 8, "net-a-carveout"),
    Cidr.Rule(0x05300000L, 12, "net-a-deep"),
    Cidr.Rule(0x10000000L, 4, "net-b"),
    Cidr.Rule(0x12000000L, 8, "net-b-carveout"),
    Cidr.Rule(0xF0000000L, 4, "net-f"))

  /** Synthetic u32 client address: mix30 spreads the event id over
    * 30 bits, the low 2 bits recycle the id so all four /30 hosts
    * appear. Portable into SQL via the same formula.
    */
  private def ipCol = Sampling.mix30(col("event_id")) * 4 +
    pmod(col("event_id"), lit(4L))
  private def ipSql =
    s"(${Sampling.mix30Sql("event_id")}) * 4 + event_id % 4"

  private def q247(s: SparkSession, dir: String): DataFrame = {
    val withIp = t(s, dir, "events").withColumn("ip", ipCol)
    Cidr.lpm(withIp, "ip", cidrRules)
      .groupBy(coalesce(col("cidr_label"), lit("unmatched")).as("network"))
      .agg(max(col("cidr_len")).as("pfx_len"), // constant per label
        count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"))
      .orderBy("network")
  }

  // ---------------------------------------------------------------
  // q248 — grid-bucketed spatial radius join (ops/Geo.radiusJoin):
  // events carry synthetic micro-degree coordinates inside a
  // 2-degree city box, nations are the 25 sites; "events within
  // 0.1° of each site" via the 3×3 cell-neighborhood broadcast
  // join, membership decided in exact 64-bit integers. The oracle
  // brute-forces the cross product — affordable at oracle SF,
  // which is exactly why the grid shape is the library's.
  // ---------------------------------------------------------------

  private val geoBox = 2000001L // ~2° box edge, prime-ish for spread
  private val geoLat0 = 45000000L
  private val geoLon0 = 12000000L
  private val geoR = 100000L // 0.1° radius = cell size

  private def evLat = lit(geoLat0) +
    pmod(Sampling.mix30(col("event_id")), lit(geoBox))
  private def evLon = lit(geoLon0) +
    pmod(Sampling.mix30(col("event_id") + lit(99000000L)), lit(geoBox))
  private def siteLat = lit(geoLat0) +
    pmod(Sampling.mix30(col("n_nationkey") * 7 + lit(3)), lit(geoBox))
  private def siteLon = lit(geoLon0) +
    pmod(Sampling.mix30(col("n_nationkey") * 11 + lit(5)), lit(geoBox))

  private def evLatSql =
    s"$geoLat0 + (${Sampling.mix30Sql("event_id")}) % $geoBox"
  private def evLonSql =
    s"$geoLon0 + (${Sampling.mix30Sql("(event_id + 99000000)")}) % $geoBox"
  private def siteLatSql =
    s"$geoLat0 + (${Sampling.mix30Sql("(n_nationkey * 7 + 3)")}) % $geoBox"
  private def siteLonSql =
    s"$geoLon0 + (${Sampling.mix30Sql("(n_nationkey * 11 + 5)")}) % $geoBox"

  private def q248(s: SparkSession, dir: String): DataFrame = {
    val pts = t(s, dir, "events")
      .select(col("event_id"), evLat.as("lat"), evLon.as("lon"))
    val sites = t(s, dir, "nation")
      .select(col("n_nationkey").cast("long").as("site_id"),
        siteLat.as("s_lat"), siteLon.as("s_lon"))
    Geo.radiusJoin(pts, "lat", "lon", sites, "s_lat", "s_lon", geoR)
      .groupBy("site_id")
      .agg(count(lit(1)).as("n_points"), min("dist2").as("min_d2"),
        sum("dist2").as("sum_d2"))
      .orderBy("site_id")
  }

  // ---------------------------------------------------------------
  // q249 — grid hotspot density (ops/Geo.gridDensity): per-cell
  // event counts smoothed with the 3×3 box stencil. Corpus
  // collapses to cell counts in one partial-aggregatable pass;
  // the convolution runs over cell-sized data only.
  // ---------------------------------------------------------------
  private def q249(s: SparkSession, dir: String): DataFrame = {
    val pts = t(s, dir, "events")
      .select(col("event_id"), evLat.as("lat"), evLon.as("lon"))
    Geo.gridDensity(pts, "lat", "lon", geoR)
      .orderBy("cell_y", "cell_x")
  }

  // ---------------------------------------------------------------
  // q250 — Holt double-exponential smoothing (ops/Ewma.holt): the
  // level+trend upgrade of q229's EWMA over the same zero-filled
  // daily-cents series (α = 1/4, β = 1/10). Signed fixed-point
  // recursion with truncating integral division — Spark `div` and
  // DuckDB `//` agree on negatives, so the trajectory (and the
  // one-step-ahead forecast column) is bit-exact cross-engine; the
  // oracle REPLAYS it with a recursive CTE.
  // ---------------------------------------------------------------
  private def q250(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ewma.holt(
        StatsEntry.dailyCents(s, dir).withColumnRenamed("day", "t"),
        alphaNum = 1, alphaDen = 4, betaNum = 1, betaDen = 10)
      .withColumnRenamed("g", "event_type")
      .withColumnRenamed("t", "day")
      .orderBy("event_type", "day")

  // ---------------------------------------------------------------
  // q251 — Kaplan–Meier survival (ops/Survival.kaplanMeier):
  // subjects are DAILY SESSIONS (user, day), duration = minutes
  // between the session's first and last event; sessions on the
  // corpus's FINAL day are CENSORED (observation ends mid-session)
  // — the estimator that uses their partial length instead of
  // dropping them. Arms by user-id parity (the q225/q226 fixture
  // convention). Exact integer risk sets; µ-quantized per-step log
  // factors summed as decimals; one closing exp rounded to 6dp.
  // ---------------------------------------------------------------
  private def q251(s: SparkSession, dir: String): DataFrame = {
    val ms = expr("ts div 1000000")
    val sessions = t(s, dir, "events")
      .select(col("user_id"), ms.as("ms"),
        expr("(ts div 1000000) div 86400000").as("day"))
      .groupBy(col("user_id"), col("day"))
      .agg(min(col("ms")).as("first_ms"), max(col("ms")).as("last_ms"))
    val cutoff = sessions.agg(max(col("day")).as("cut_day"))
    val subjects = sessions.crossJoin(broadcast(cutoff))
      .select(pmod(col("user_id"), lit(2)).as("g"),
        expr("(last_ms - first_ms) div 60000").as("dur"),
        when(col("day") < col("cut_day"), 1L).otherwise(0L).as("ev"))
    graft.ops.Survival.kaplanMeier(subjects)
      .withColumnRenamed("g", "arm")
      .orderBy("arm", "t")
  }

  // ---------------------------------------------------------------
  // q252 — RFM customer segmentation (ops/Rfm.segment): recency /
  // frequency / monetary quintiles from the RankTransform mid-rank
  // CDF (no global ntile sort), standard segment names from the
  // integer scores. Exact integer metrics; the only doubles are
  // the CDF divisions, bit-identical cross-engine.
  // ---------------------------------------------------------------
  private def q252(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders").select(
      col("o_custkey").as("cust"),
      unix_millis(col("o_orderdate").cast("timestamp")).as("order_ms"),
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        .as("cents"))
    graft.ops.Rfm.segment(orders).orderBy("cust")
  }

  // ---------------------------------------------------------------
  // q254 — Jaro–Winkler fuzzy dictionary match (functions/
  // StringSimExprs.jaroWinkler, Winkler 1990): typo-perturbed part
  // names resolved against the clean name dictionary — the
  // "free-text field → bounded reference vocabulary" matcher
  // (country lists, product catalogs) that complements q104's
  // levenshtein blocking pipeline with the transposition-tolerant,
  // prefix-boosted census scorer. Scale shape: the dictionary is
  // metadata-sized, so scoring is probe × BROADCAST dictionary — a
  // codegen'd projection, no pair shuffle; argmax per probe rides
  // one keyed struct-max aggregation with scores ROUNDED to 9dp
  // before comparison (a last-ulp libm wobble cannot flip ranks,
  // ties break on the name). The native expression is verified
  // equal to DuckDB's jaro_winkler_similarity, which restates the
  // whole plan natively.
  // ---------------------------------------------------------------
  private def q254(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.StringSimExprs.jaroWinkler
    val parts = t(s, dir, "part")
    val clean = parts.select(col("p_name").as("cname")).distinct()
    val dirty = parts.select(col("p_partkey").as("id"),
      when(pmod(col("p_partkey"), lit(4)) === 0,
        expr("substring(p_name, 1, length(p_name) - 1)")) // truncate
        .when(pmod(col("p_partkey"), lit(4)) === 1,
          concat(expr("substring(p_name, 2, 1)"),
            expr("substring(p_name, 1, 1)"),
            expr("substring(p_name, 3, 1000)"))) // leading transposition
        .when(pmod(col("p_partkey"), lit(4)) === 2,
          concat(col("p_name"), lit("s"))) // pluralize
        .otherwise(col("p_name")).as("dname"))
    // score DISTINCT dirty names, not rows (r15, guide §8 "decide
    // with small rows"): the best match is a pure function of dname
    // alone — max(struct(jw, cname)) over the same dictionary — and
    // dname collapses hard (≤ distinct p_name × 4 mutations), so the
    // all-pairs Jaro-Winkler leg runs on names × dict instead of
    // rows × dict (~80× fewer evals here; at any scale, strictly ≤).
    // Rows then re-attach by a dname equi-join (AQE broadcasts the
    // name-sized best table); per-id results are value-identical, so
    // the rollup is too.
    val names = dirty.select("dname").distinct()
    val best = names.crossJoin(broadcast(clean))
      .select(col("dname"),
        col("cname"), round(jaroWinkler(col("dname"), col("cname")), 9)
          .as("jw"))
      .groupBy("dname")
      .agg(max(struct(col("jw"), col("cname"))).as("b"))
      .select(col("dname"), col("b.cname").as("match_name"),
        col("b.jw").as("jw"))
    dirty.join(best, "dname")
      .groupBy("match_name")
      .agg(count(lit(1)).as("n_records"), min("jw").as("min_jw"),
        max("jw").as("max_jw"))
      .orderBy("match_name")
  }

  // ---------------------------------------------------------------
  // q255 — MMR diversified retrieval (ann/Mmr.rerank, Carbonell &
  // Goldstein 1998): λ·rel − (1−λ)·max-sim greedy selection of 3
  // from each query's brute-force top-8 pool — the RAG diversity
  // pass after ANN. The greedy recursion is unrolled into k plan
  // stages of pool-sized keyed ops; rel/sims are the bit-exact
  // sequential-double cosine (q27 contract), so the oracle's
  // identically-unrolled stages reproduce the selection exactly
  // (1−λ interpolates as the same IEEE double both sides).
  // ---------------------------------------------------------------
  private val MmrK = 3
  private val MmrLambda = 0.7
  private val MmrPool = 8

  private def q255(s: SparkSession, dir: String): DataFrame = {
    import graft.ann.{Ann, Mmr}
    val vecs = t(s, dir, "embeddings")
    val topn = Ann.bruteForceTopK(vecs, vecs.filter(col("vec_id") < 8),
      "vec_id", "embedding", k = MmrPool)
    val cands = topn.join(
        vecs.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("vec")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("cos").as("rel"),
        col("vec"))
    Mmr.rerank(cands, MmrK, MmrLambda).orderBy("query_id", "pos")
  }

  // ---------------------------------------------------------------
  // q256 — IVF-PQ composed ANN (ann/Pq.ivfPqTopK, FAISS's
  // `IVFx,PQy` production shape): coarse lists bound the candidate
  // scan, PQ codes bound its BYTES, exact rerank restores
  // precision. Inherently lossy like q37/q77, so the output IS the
  // accuracy contract (recall@5 vs exact ≥ 4/5 per query —
  // deterministic: fixed init, decimal-exact training means); the
  // raw composition is spec-tested.
  // ---------------------------------------------------------------
  private def q256(s: SparkSession, dir: String): DataFrame = {
    import graft.ann.{Ann, Pq}
    val vecs = t(s, dir, "embeddings")
    val queries = vecs.filter(col("vec_id") < 10)
    val centroids = Ann.trainCentroids(vecs, "vec_id", "embedding",
      nLists = 8, iters = 3)
    val books = Pq.trainCodebooks(vecs, "vec_id", "embedding",
      dim = 64, m = 16, k = 64, iters = 2)
    val approx = Pq.ivfPqTopK(vecs, queries, "vec_id", "embedding",
      dim = 64, k = 5, centroids, books, nProbe = 5, rerankDepth = 50)
    val exact = Ann.bruteForceTopK(vecs, queries, "vec_id", "embedding",
      k = 5)
    approx
      .join(exact.select(col("query_id"), col("neighbor_id"),
        lit(1).as("hit")), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_returned"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .select(col("query_id"), col("n_returned"),
        (col("n_hit") >= lit(4)).as("recall_ok"))
      .orderBy("query_id")
  }

  // ---------------------------------------------------------------
  // q258 — XML record shredding (sources/XmlSource.shred): each
  // document synthesizes an XML payload (repeated <item> records,
  // an &amp; entity to prove REAL decoding, every 13th doc
  // malformed with an unclosed tag); the shredder parses with a
  // hardened JAXP parser (DTDs off) and the per-lang rollup is
  // checked against the GOLDEN aggregate computed directly from
  // the synthesis formulas (the q33 contract: the oracle never
  // parses XML — it restates what the generator emitted, so a
  // parser that drops records, skips entity decode, or swallows
  // malformed docs breaks parity).
  // ---------------------------------------------------------------
  private def q258(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val items = array_join(transform(
      sequence(lit(0L), pmod(d, lit(3L))),
      i => concat(lit("<item><name>x"), d.cast("string"),
        lit(" &amp; n"), i.cast("string"), lit("</name><qty>"),
        pmod(d + i, lit(7L)).cast("string"), lit("</qty></item>"))), "")
    val xml = when(pmod(d, lit(13L)) === 0,
        lit("<doc><item><name>broken"))
      .otherwise(concat(lit("<doc id=\""), d.cast("string"), lit("\">"),
        items, lit("</doc>")))
    val docs = t(s, dir, "documents")
    val shredded = graft.sources.XmlSource.shred(
      docs.withColumn("xml", xml), "doc_id", "xml", "item",
      Seq("name", "qty"))
    shredded
      .join(docs.select(d.as("id"), col("lang")), "id")
      .groupBy("lang")
      .agg(count_distinct(col("id")).as("n_docs"),
        count(when(col("malformed"), 1)).as("n_malformed"),
        count(when(!col("malformed"), 1)).as("n_records"),
        sum(col("qty").cast("long")).as("sum_qty"),
        sum(length(col("name"))).as("sum_name_chars"))
      .orderBy("lang")
  }

  // ---------------------------------------------------------------
  // q259 — Markov removal-effect attribution (ops/MarkovAttribution,
  // Anderl 2014): the DATA-DRIVEN model beside q148/q210's
  // positional heuristics — journeys become a first-order chain,
  // conversion = absorption mass, credit = what disappears when a
  // channel redirects to NULL. Integer fixed-point power
  // iterations (q131 discipline) on a METADATA-sized transition
  // matrix (driver-held, the IVF rationale); the oracle unrolls
  // the same iterations per removal variant in generated CTEs.
  // ---------------------------------------------------------------
  private val AttrChannels = Seq("click", "error", "signup", "view")
  private val AttrIters = 12

  private def q259(s: SparkSession, dir: String): DataFrame =
    graft.ops.MarkovAttribution.attribute(t(s, dir, "events"),
        "user_id", "event_type", "ts", "event_id", "purchase",
        AttrChannels, iters = AttrIters)
      .orderBy("channel")

  // ---------------------------------------------------------------
  // q260 — isotonic score calibration (quality/Isotonic.calibrate,
  // Zadrozny & Elkan 2002): noisy per-bin outcome rates → the
  // closest non-decreasing curve, via the MINIMAX closed form
  // (max_{j≤i} min_{k≥i} interval-avg) instead of the sequential
  // PAVA stack — one corpus pass to bin, then metadata-sized
  // relational algebra; spec pins equality with hand-PAVA. Fixture:
  // a synthetic score bin whose outcome probability ramps with the
  // bin plus mix30 noise, so the fit genuinely pools violators.
  // ---------------------------------------------------------------
  private def q260(s: SparkSession, dir: String): DataFrame = {
    val bkt = pmod(Sampling.mix30(col("doc_id") + lit(7L)), lit(20L))
    val d = t(s, dir, "documents").select(bkt.as("bucket"),
      when(pmod(Sampling.mix30(col("doc_id")), lit(1000L)) <
        lit(150L) + lit(35L) * bkt, 1L).otherwise(0L).as("y"))
    graft.quality.Isotonic.calibrate(d).orderBy("bucket")
  }

  // ---------------------------------------------------------------
  // q261 — Theil–Sen robust trend (ops/TheilSen.slope, Sen 1968):
  // median of all pairwise slopes of the daily-cents series — the
  // outlier-tolerant companion to q176's OLS (one backfill spike
  // can't drag it). O(n²) pairs PER SERIES on calendar-bounded
  // series; the median is an order statistic, well-defined under
  // ties, averaged for even counts.
  // ---------------------------------------------------------------
  private def q261(s: SparkSession, dir: String): DataFrame = {
    val d = StatsEntry.dailyCents(s, dir)
      .select(col("g"), col("day").as("t"), col("x").as("y"))
      .withColumnRenamed("t", "x")
    graft.ops.TheilSen.slope(d)
      .withColumnRenamed("g", "event_type")
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------
  // q262 — Spearman rank correlation (quality/RankTests.spearman):
  // daily event VOLUME vs daily REVENUE per event type — the
  // monotone-association readout next to q68's Pearson, invariant
  // to heavy tails. Doubled mid-ranks (exact at ties), decimal
  // moments, one closing double chain.
  // ---------------------------------------------------------------
  private def q262(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type").as("g"),
        expr("(ts div 1000000) div 86400000").as("day"))
      .agg(count(lit(1)).as("x"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
          .as("y"))
    graft.quality.RankTests.spearman(daily, "g", "x", "y")
      .withColumnRenamed("stratum", "event_type")
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------
  // q263 — CCNet-style perplexity bucketing (Wenzek 2020): the q234
  // bigram-LM scores split into head/middle/tail TERCILES PER
  // LANGUAGE — the standard web-corpus quality triage (train on
  // head+middle, audit tail). Band boundaries come from the q239
  // mid-rank CDF machinery per language (two-level bucketed prefix,
  // no global sort); ties share a band by construction.
  // ---------------------------------------------------------------
  private def q263(s: SparkSession, dir: String): DataFrame =
    ccnetBuckets(s, dir, EvalEntry.lmTokIndexPath(dir),
      graft.text.LmFilter.AddK(1),
      graft.ops.ArtifactIndex.fileToken(s, s"$dir/documents.parquet"))

  // ---------------------------------------------------------------
  // q334 — CCNet buckets driven by the Kneser-Ney scorer
  // (VERDICT r10 item 6: KenLM's-default KN end-to-end through the
  // bucket pipeline, not just the q332 scoring leg): identical
  // terciles-per-language machinery, but the head/middle/tail split
  // now reflects continuation-probability scores — a frequent-but-
  // captive token no longer buys its document into the head. Probes
  // the KN artifact q332 gates (own path — the family switch
  // rebuilds its own index, never thrashes q263's add-one one).
  // ---------------------------------------------------------------
  private def q334(s: SparkSession, dir: String): DataFrame =
    ccnetBuckets(s, dir, EvalEntry.lmKnTokIndexPath(dir),
      graft.text.LmFilter.KneserNey(StatsEntry.KnDiscountPermille),
      graft.ops.ArtifactIndex.fileToken(s, s"$dir/documents.parquet"))

  // ---------------------------------------------------------------
  // q342 — CCNet buckets driven by the ORDER-3 Kneser-Ney scorer
  // (VERDICT r13 item 2's stretch twin: the tercile split operating
  // in the regime where order 3 actually matters — ranking WITHIN
  // fluent text). Identical terciles-per-language machinery
  // (ccnetBand), scored through the SAME token-signed KN-3 artifact
  // q341 gates (one model, two consumers — the probe never scans the
  // reference corpus).
  // ---------------------------------------------------------------
  private def q342(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scored = graft.text.LmFilter.indexedTrigramLogprob(
      s, EvalEntry.lm3TokIndexPath(dir),
      docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text"),
      docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text"),
      "doc_id", "text",
      graft.text.LmFilter.KneserNey(StatsEntry.KnDiscountPermille),
      freshness = graft.ops.ArtifactIndex.fileToken(
        s, s"$dir/documents.parquet"))
    ccnetBand(docs, scored, "n_trigrams", "sum_trigrams")
  }

  /** The shared CCNet bucketing pipeline: score the odd-doc batch
    * through the persisted LM index at `path` (building it if
    * absent/stale — the metadata dispatch makes the smoothing family
    * a parameter), then tercile per language. Since r12 (VERDICT r11
    * item 1) both registry callers pass METADATA-SIZED Token
    * freshness (fileToken over the documents dir), so a steady-state
    * CCNet probe never scans the reference corpus — the q335 pattern
    * adopted end-to-end; the fingerprint-signed q325/q332 artifacts
    * live on their own paths and are never thrashed. */
  private def ccnetBuckets(s: SparkSession, dir: String, path: String,
      smoothing: graft.text.LmFilter.Smoothing,
      freshness: graft.ops.ArtifactIndex.Freshness =
        graft.ops.ArtifactIndex.Fingerprint): DataFrame = {
    val docs = t(s, dir, "documents")
    // scores through the persisted LM index: the reference count
    // tables train at most once per corpus state — a rerun pays only
    // the freshness check + the batch probe, the CCNet production
    // shape (Token mode: the check is two longs, no corpus scan)
    val scored = graft.text.LmFilter.indexedBigramLogprob(
      s, path,
      docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text"),
      docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text"),
      "doc_id", "text", smoothing, freshness = freshness)
    ccnetBand(docs, scored, "n_bigrams", "sum_bigrams")
  }

  /** The scorer-agnostic tercile machinery behind q263/q334/q342:
    * join language, band per-language on the mid-rank CDF, roll up.
    * `gramCol`/`sumCol` name the scorer's gram-count column and its
    * rolled-up alias (n_bigrams for the order-2 scorers, n_trigrams
    * for KN-3). */
  private def ccnetBand(docs: DataFrame, scored: DataFrame,
      gramCol: String, sumCol: String): DataFrame = {
    val withLang = scored.join(docs.select(col("doc_id"), col("lang")),
      "doc_id")
    // r15 (guide §2.3/§2.4): collapse the scored rows to ONE row per
    // (lang, score) carrying multiplicity + the gram-count subtotal
    // FIRST — every downstream consumer (the CDF prefix, the
    // per-language totals, the band rollup) is a function of this
    // distinct-value table, so the r14 shape's docs-sized banding
    // join (withLang ⋈ bands on (lang, score)) disappears: the
    // rollup reads the same distinct rows the bands were computed
    // from. n_docs = Σ cnt, sum(gram) = Σ sg — value-identical by
    // associativity; the barrier moves to the (smaller) collapsed
    // slice, which feeds three consumers.
    val perVal = graft.plans.Plans.barrier(
      withLang.groupBy(col("lang").as("g"),
          col("avg_logprob").cast("double").as("v"))
        .agg(count(lit(1)).as("ca"), sum(gramCol).as("sg")))
    // the per-value payload (ca, sg) rides THROUGH the prefix chain,
    // so the banded rollup reads the cumulative table directly — no
    // join back against the scored rows at all
    val cum = graft.quality.RankTests.cumulativeFromPerValue(
      perVal.select(col("g"), col("v"), col("ca"), lit(0L).as("cb"),
        col("sg")))
    // per-language totals off the collapsed slice: Σ ca per g IS
    // the per-g scored row count (r14 note still holds — one shallow
    // groupBy, never the prefix chain re-planned).
    val n = perVal.groupBy(col("g")).agg(sum(col("ca")).as("nl"))
    val cdf = (lit(2) * col("cuma") - col("ca")).cast("double") /
      (lit(2) * col("nl")).cast("double")
    cum.join(broadcast(n), "g")
      // the r14 shape's value-equality banding join dropped a
      // null-score row from the rollup (null = null is false) while
      // still counting it in the CDF denominators — restate that
      // contract explicitly (no null scores occur in practice:
      // avg_logprob is a rounded ratio over ≥1 grams)
      .where(col("v").isNotNull)
      .withColumn("band", least(floor(cdf * 3).cast("long"), lit(2L)))
      .groupBy(col("g").as("lang"),
        when(col("band") === 2, "head").when(col("band") === 1, "middle")
          .otherwise("tail").as("band"))
      .agg(sum(col("ca")).as("n_docs"), sum(col("sg")).as(sumCol),
        min("v").as("min_score"),
        max("v").as("max_score"))
      .orderBy("lang", "band")
  }

  // ---------------------------------------------------------------
  // q264 — Wilson score intervals (quality/Proportions.wilson,
  // Wilson 1927): per-event-type "big purchase" rate with the
  // binomial CI that stays honest at p̂ near 0/1 and small n (the
  // Wald interval's failure mode — Brown/Cai/DasGupta 2001).
  // Algebraic (no erf), one fixed double chain on exact counts.
  // ---------------------------------------------------------------
  private def q264(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "events").select(col("event_type").as("g"),
      (col("value") > 100.0).cast("int").as("hit"))
    graft.quality.Proportions.wilson(d)
      .withColumnRenamed("g", "event_type")
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------
  // q265 — fixed-width record layout (sources/FixedWidth): orders
  // rendered to a COBOL-copybook-style 40-char line (zero-padded
  // numerics, space-padded text, overflow RAISES) and parsed back
  // by byte offsets — both directions pure codegen'd projections.
  // The rollup aggregates PARSED fields, so a mis-sliced offset or
  // dropped padding breaks parity.
  // ---------------------------------------------------------------
  private val FwFields = Seq(
    graft.sources.FixedWidth.Field("okey", 1, 10, numeric = true),
    graft.sources.FixedWidth.Field("status", 11, 2, numeric = false),
    graft.sources.FixedWidth.Field("cents", 13, 12, numeric = true),
    graft.sources.FixedWidth.Field("prio", 25, 16, numeric = false))

  private def q265(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.FixedWidth
    val in = t(s, dir, "orders").select(
      col("o_orderkey").as("okey"), col("o_orderstatus").as("status"),
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        .as("cents"),
      col("o_orderpriority").as("prio"))
    val lines = FixedWidth.render(in, FwFields).select("line")
    FixedWidth.parse(lines, "line", FwFields)
      .groupBy("status")
      .agg(count(lit(1)).as("n"),
        sum(col("line_ok").cast("long")).as("n_ok"),
        sum(col("cents").cast("long")).as("sum_cents"),
        min(col("okey").cast("long")).as("min_key"),
        max(col("okey").cast("long")).as("max_key"))
      .orderBy("status")
  }

  // ---------------------------------------------------------------
  // q266 — matryoshka truncation audit (Kusupati 2022): how much
  // retrieval survives keeping only the FIRST 16 of 64 embedding
  // dims — the modern "cheap prefilter dims, full-dim rerank"
  // design question. Exact top-5 under both representations (the
  // q27 bit-exact cosine), per-query overlap + top-1 agreement;
  // the oracle restates both rankings over sliced lists.
  // ---------------------------------------------------------------
  private def q266(s: SparkSession, dir: String): DataFrame = {
    import graft.ann.Ann
    val vecs = t(s, dir, "embeddings")
    val queries = vecs.filter(col("vec_id") < 8)
    val full = Ann.bruteForceTopK(vecs, queries, "vec_id", "embedding", 5)
    val tcorpus = vecs.select(col("vec_id"),
      slice(col("embedding"), 1, 16).as("embedding"))
    val trunc = Ann.bruteForceTopK(tcorpus,
      tcorpus.filter(col("vec_id") < 8), "vec_id", "embedding", 5)
    val overlap = full.select("query_id", "neighbor_id")
      .join(trunc.select(col("query_id"), col("neighbor_id"),
        lit(1).as("hit")), Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_full"),
        sum(coalesce(col("hit"), lit(0))).as("n_overlap"))
    val t1 = full.filter(col("rk") === 1)
      .select(col("query_id"), col("neighbor_id").as("f1"))
      .join(trunc.filter(col("rk") === 1)
        .select(col("query_id"), col("neighbor_id").as("t1")), "query_id")
      .select(col("query_id"), (col("f1") === col("t1")).as("top1_same"))
    overlap.join(t1, "query_id").orderBy("query_id")
  }

  // ---------------------------------------------------------------
  // q267 — Benjamini–Hochberg FDR (quality/Fdr, BH 1995): the
  // multiple-comparisons correction over the q226 Mann–Whitney
  // sweep — test every segment at α=0.05 and a twentieth of "wins"
  // are noise; BH bounds the expected false-discovery fraction.
  // p-values via the A&S 7.1.26 normal survival chain (no erf
  // built-in needed; identical Horner + one exp both engines,
  // 9dp-rounded before ranking); step-up rule on the test list
  // (metadata-sized by construction).
  // ---------------------------------------------------------------
  private def q267(s: SparkSession, dir: String): DataFrame = {
    val mw = graft.quality.RankTests.mannWhitney(t(s, dir, "events"),
      "event_type", pmod(col("user_id"), lit(2)) === 1, "value")
    val tests = mw.filter(col("z").isNotNull)
      .select(col("stratum").as("test_id"),
        graft.quality.Fdr.normP(col("z")).as("p"))
    graft.quality.Fdr.bh(tests, 0.05).orderBy("rk")
  }

  // ---------------------------------------------------------------
  // q268 — CUPED variance reduction (quality/Cuped, Deng/Kohavi
  // WSDM 2013): per-user pre-period revenue (first 15 days) adjusts
  // the experiment-period metric — same sensitivity, less traffic.
  // θ from POOLED moments (per-arm θ would absorb the treatment),
  // exact decimal moments, adjusted MEANS as algebra over the same
  // moments (no second pass), ρ² reported.
  // ---------------------------------------------------------------
  private def q268(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("event_type").as("g"),
      col("user_id"),
      expr("(ts div 1000000) div 86400000").as("day"),
      (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val lo = ev.agg(min("day").as("lo"))
    val units = ev.crossJoin(broadcast(lo))
      .groupBy(col("g"), col("user_id"),
        pmod(col("user_id"), lit(2)).as("arm"))
      .agg(sum(when(col("day") < col("lo") + 15, col("cents"))
          .otherwise(0L)).as("x"),
        sum(when(col("day") >= col("lo") + 15, col("cents"))
          .otherwise(0L)).as("y"))
    graft.quality.Cuped.adjust(units)
      .withColumnRenamed("g", "event_type")
      .orderBy("event_type", "arm")
  }

  // ---------------------------------------------------------------
  // q269 — streaming SCD1 upsert (streaming/Streams.upsertStream):
  // the continuously-maintained latest-row-per-key view a CDC
  // consumer keeps warm — mapGroupsWithState with O(1) state (the
  // (ts, id)-winner + a count), UPDATE-mode snapshots. Ordering by
  // the event-time total order, not arrival, is what makes the
  // final snapshot equal the batch row_number()=1 the oracle runs.
  // ---------------------------------------------------------------
  private def q269(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.Streams
    val name = s"q269_upsert_${Scratch.key(dir)}"
    s.catalog.dropTempView(name)
    val q = Streams.upsertStream(Streams.readEventsRaw(s, dir))
      .writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    s.table(name).orderBy("user_id")
  }

  // ---------------------------------------------------------------
  // q270 — split-conformal forecast bands (ops/Conformal, Lei 2018):
  // the distribution-free coverage guarantee wrapped around q250's
  // Holt one-step forecasts — calibration window = first 20 days,
  // radius = the ⌈0.9·(n+1)⌉-th smallest |residual| (an exact
  // integer order statistic), coverage audited on the held-out
  // tail. The principled version of "alert at 3σ".
  // ---------------------------------------------------------------
  private def q270(s: SparkSession, dir: String): DataFrame = {
    val daily = StatsEntry.dailyCents(s, dir)
    val holt = graft.ops.Ewma.holt(daily.withColumnRenamed("day", "t"),
      alphaNum = 1, alphaDen = 4, betaNum = 1, betaDen = 10)
    val lo = daily.agg(min("day").as("lo"))
    val resid = holt
      .join(daily.select(col("g"), col("day").as("t"), col("x")),
        Seq("g", "t"))
      .crossJoin(broadcast(lo))
      .select(col("g"),
        abs(col("x") * lit(1000000L) - col("forecast_fp")).as("resid"),
        (col("t") < col("lo") + 20).as("is_cal"))
    graft.ops.Conformal.radiusCoverage(resid)
      .withColumnRenamed("g", "event_type")
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------
  // q271 — optimistic-concurrency commits (ops/VersionedTable
  // .commitIf, the Delta/Iceberg CAS): a stale-base commit must
  // fail LOUDLY, the caller rebases against the new snapshot and
  // retries. Golden lifecycle oracle (the q39 convention) with the
  // final row count restated from the orders predicate.
  // ---------------------------------------------------------------
  private def q271(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.VersionedTable
    import s.implicits._
    val path = Scratch.fresh(s, "q271", dir)
    val orders = t(s, dir, "orders")
    def slice(k: Int) = orders.filter(pmod(col("o_orderkey"), lit(4)) === k)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    def step(expected: Long, df: DataFrame, at: Long): (String, Long) =
      try {
        val v = VersionedTable.commitIf(s, path, df, at, expected)
        ("committed", v)
      } catch {
        case _: java.util.ConcurrentModificationException =>
          ("conflict",
            graft.ops.VersionedTable.versions(s, path).last.version)
      }
    val s1 = step(-1L, slice(0), 100L)
    val s2 = step(0L, slice(1), 200L)
    val s3 = step(0L, slice(2), 300L) // stale base -> conflict
    val s4 = step(1L, slice(2), 400L) // rebase -> lands as v2
    val nLatest = VersionedTable.readLatest(s, path).count()
    Seq((1L, -1L, s1._1, s1._2), (2L, 0L, s2._1, s2._2),
      (3L, 0L, s3._1, s3._2), (4L, 1L, s4._1, s4._2))
      .toDF("step", "expected_version", "outcome", "version_after")
      .withColumn("n_latest", lit(nLatest))
      .orderBy("step")
  }

  // ---------------------------------------------------------------
  // q272 — zero-copy shallow clone (ops/VersionedTable
  // .shallowClone, Delta SHALLOW CLONE semantics): the clone's v0
  // manifest points at the source's data dir — one manifest write,
  // no data movement — then evolves independently (its own commits,
  // vacuum never sweeps foreign dirs). Legs restate the same order
  // censuses the source commits held.
  // ---------------------------------------------------------------
  private def q272(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.VersionedTable
    val base = Scratch.fresh(s, "q272", dir)
    val src = s"$base/src"; val dst = s"$base/clone"
    val orders = t(s, dir, "orders")
    def census(df: DataFrame): DataFrame =
      df.groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
    def cut(d: String) =
      orders.filter(col("o_orderdate") < lit(d).cast("timestamp"))
    VersionedTable.commit(s, src, census(cut("1996-01-01")), 100L)
    VersionedTable.commit(s, src, census(orders), 200L)
    VersionedTable.shallowClone(s, src, dst, srcVersion = 0L, 300L)
    // clone evolves independently; the source must not see it
    VersionedTable.commit(s, dst, census(cut("1997-01-01")), 400L)
    val legs = Seq(
      ("clone_v0", VersionedTable.read(s, dst, 0L)),
      ("clone_v1", VersionedTable.read(s, dst, 1L)),
      ("src_latest", VersionedTable.readLatest(s, src)))
    legs.map { case (tag, df) => df.withColumn("leg", lit(tag)) }
      .reduce(_ unionByName _)
      .select("leg", "o_orderpriority", "n_orders")
      .orderBy("leg", "o_orderpriority")
  }

  // ---------------------------------------------------------------
  // q273 — Kruskal–Wallis H (quality/RankTests.kruskalWallis): the
  // k-sample nonparametric ANOVA completing the q225/q226 family —
  // three arms by user_id mod 3; doubled mid-ranks, µ-quantized
  // per-group terms, tie-corrected H; significance at the df=2
  // χ² 0.05 critical value (literal — no χ² CDF needed).
  // ---------------------------------------------------------------
  private def q273(s: SparkSession, dir: String): DataFrame =
    graft.quality.RankTests.kruskalWallis(
        t(s, dir, "events").withColumn("grp", pmod(col("user_id"), lit(3))),
        "event_type", "grp", "value")
      .withColumnRenamed("stratum", "event_type")
      .withColumn("significant",
        when(col("h").isNotNull, col("h") > 5.991464547)) // χ²(2), α=.05
      .orderBy("event_type")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q247_cidr_match" -> (q247 _),
    "q248_geo_radius_join" -> (q248 _),
    "q249_grid_density" -> (q249 _),
    "q250_holt" -> (q250 _),
    "q251_kaplan_meier" -> (q251 _),
    "q252_rfm" -> (q252 _),
    "q254_jw_dictionary" -> (q254 _),
    "q255_mmr_rerank" -> (q255 _),
    "q256_ann_ivfpq" -> (q256 _),
    "q258_xml_shred" -> (q258 _),
    "q259_markov_attribution" -> (q259 _),
    "q260_isotonic_calibration" -> (q260 _),
    "q261_theil_sen" -> (q261 _),
    "q262_spearman" -> (q262 _),
    "q263_ccnet_buckets" -> (q263 _),
    "q334_ccnet_kn" -> (q334 _),
    "q342_ccnet_kn3" -> (q342 _),
    "q264_wilson_ci" -> (q264 _),
    "q265_fixed_width" -> (q265 _),
    "q266_matryoshka" -> (q266 _),
    "q267_bh_fdr" -> (q267 _),
    "q268_cuped" -> (q268 _),
    "q269_stream_upsert" -> (q269 _),
    "q270_conformal" -> (q270 _),
    "q271_occ_commit" -> (q271 _),
    "q272_shallow_clone" -> (q272 _),
    "q273_kruskal_wallis" -> (q273 _))

  /** The CCNet tercile oracle over any LM-scoring CTE ending in
    * `lm_scores(doc_id, <gramCol>, n_unseen, avg_logprob)` — q263
    * passes the add-one recompute, q334 the Kneser-Ney one, q342 the
    * order-3 KN one (gramCol = n_trigrams); the banding machinery is
    * shared by construction so the oracles cannot drift. */
  private def ccnetBucketSql(scoreCte: String,
      gramCol: String = "n_bigrams",
      sumCol: String = "sum_bigrams"): String =
    s"""WITH $scoreCte, sl AS (
       |  SELECT s.doc_id, s.$gramCol, s.avg_logprob, d.lang
       |  FROM lm_scores s JOIN documents d USING (doc_id)
       |), census AS (
       |  SELECT lang, avg_logprob AS v, count(*) AS c
       |  FROM sl GROUP BY 1, 2
       |), cm AS (
       |  SELECT lang, v, c,
       |    sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
       |    sum(c) OVER (PARTITION BY lang) AS nl
       |  FROM census
       |), bands AS (
       |  SELECT lang, v,
       |    least(CAST(floor((CAST(2 * cum - c AS DOUBLE)
       |      / CAST(2 * nl AS DOUBLE)) * 3) AS BIGINT), 2) AS band
       |  FROM cm
       |), bd AS (
       |  SELECT sl.lang, sl.$gramCol, sl.avg_logprob, b.band
       |  FROM sl JOIN bands b ON sl.lang = b.lang
       |    AND sl.avg_logprob = b.v
       |)
       |SELECT lang,
       |  CASE WHEN band = 2 THEN 'head' WHEN band = 1 THEN 'middle'
       |    ELSE 'tail' END AS band,
       |  count(*) AS n_docs, CAST(sum($gramCol) AS BIGINT)
       |    AS $sumCol,
       |  min(avg_logprob) AS min_score, max(avg_logprob) AS max_score
       |FROM bd GROUP BY 1, 2 ORDER BY lang, band""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q247_cidr_match" ->
      s"""WITH ips AS (
         |  SELECT user_id, ($ipSql) AS ip FROM events
         |), m AS (
         |  SELECT user_id,
         |    coalesce(${Cidr.lpmSql("ip", cidrRules, "label")},
         |      'unmatched') AS network,
         |    ${Cidr.lpmSql("ip", cidrRules, "len")} AS pfx_len
         |  FROM ips
         |)
         |SELECT network, max(pfx_len) AS pfx_len,
         |  count(*) AS n_events, count(DISTINCT user_id) AS n_users
         |FROM m GROUP BY network ORDER BY network""".stripMargin,
    "q248_geo_radius_join" ->
      s"""WITH pts AS (
         |  SELECT event_id, ($evLatSql) AS lat, ($evLonSql) AS lon
         |  FROM events
         |), sites AS (
         |  SELECT CAST(n_nationkey AS BIGINT) AS site_id,
         |    ($siteLatSql) AS s_lat, ($siteLonSql) AS s_lon
         |  FROM nation
         |), pairs AS (
         |  SELECT site_id,
         |    (lat - s_lat) * (lat - s_lat)
         |      + (lon - s_lon) * (lon - s_lon) AS dist2
         |  FROM pts CROSS JOIN sites
         |  WHERE (lat - s_lat) * (lat - s_lat)
         |      + (lon - s_lon) * (lon - s_lon) <= ${geoR * geoR}
         |)
         |SELECT site_id, count(*) AS n_points, min(dist2) AS min_d2,
         |  CAST(sum(dist2) AS BIGINT) AS sum_d2
         |FROM pairs GROUP BY site_id ORDER BY site_id""".stripMargin,
    "q249_grid_density" ->
      s"""WITH pts AS (
         |  SELECT ($evLatSql) AS lat, ($evLonSql) AS lon FROM events
         |), counts AS (
         |  SELECT ${Geo.cellSql("lat", geoR)} AS cell_y,
         |    ${Geo.cellSql("lon", geoR)} AS cell_x, count(*) AS n_own
         |  FROM pts GROUP BY 1, 2
         |), offs AS (
         |  SELECT dy, dx FROM (VALUES (-1), (0), (1)) a(dy)
         |  CROSS JOIN (VALUES (-1), (0), (1)) b(dx)
         |), spread AS (
         |  SELECT cell_y + dy AS cell_y, cell_x + dx AS cell_x,
         |    CAST(sum(n_own) AS BIGINT) AS density
         |  FROM counts CROSS JOIN offs GROUP BY 1, 2
         |)
         |SELECT c.cell_y, c.cell_x, c.n_own, s.density
         |FROM counts c JOIN spread s USING (cell_y, cell_x)
         |ORDER BY c.cell_y, c.cell_x""".stripMargin,
    "q250_holt" ->
      s"""WITH RECURSIVE ${StatsEntry.DailyCte}, $HoltCte
         |SELECT g AS event_type, day, CAST(lvl AS BIGINT) AS level_fp,
         |  CAST(trd AS BIGINT) AS trend_fp, CAST(fc AS BIGINT) AS forecast_fp,
         |  round(CAST(lvl AS DOUBLE) / 1000000.0, 6) AS level,
         |  round(CAST(trd AS DOUBLE) / 1000000.0, 6) AS trend
         |FROM rec ORDER BY event_type, day""".stripMargin,
    "q251_kaplan_meier" ->
      s"""WITH per AS (
         |  SELECT user_id, epoch_ns(ts) // 1000000 // 86400000 AS day,
         |    min(epoch_ns(ts) // 1000000) AS first_ms,
         |    max(epoch_ns(ts) // 1000000) AS last_ms
         |  FROM events GROUP BY 1, 2
         |), anc AS (SELECT max(day) AS cut_day FROM per
         |), subj AS (
         |  SELECT user_id % 2 AS arm,
         |    (last_ms - first_ms) // 60000 AS t,
         |    CASE WHEN day < cut_day THEN 1 ELSE 0 END AS ev
         |  FROM per CROSS JOIN anc
         |), cnt AS (
         |  SELECT arm, t, CAST(sum(ev) AS BIGINT) AS d,
         |    CAST(sum(1 - ev) AS BIGINT) AS c, count(*) AS m
         |  FROM subj GROUP BY arm, t
         |), risked AS (
         |  SELECT arm, t, d, c,
         |    sum(m) OVER (PARTITION BY arm)
         |      - coalesce(sum(m) OVER (PARTITION BY arm ORDER BY t
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS n_risk
         |  FROM cnt
         |), stepped AS (
         |  SELECT arm, t, d, c, CAST(n_risk AS BIGINT) AS n_risk,
         |    CASE WHEN d > 0 AND n_risk = d
         |      THEN CAST(NULL AS DECIMAL(38,12))
         |      ELSE sum(CASE
         |        WHEN d > 0 AND n_risk > d THEN
         |          CAST(round(ln(CAST(n_risk - d AS DOUBLE))
         |            - ln(CAST(n_risk AS DOUBLE)), 12) AS DECIMAL(28,12))
         |        ELSE CAST(0 AS DECIMAL(28,12)) END)
         |        OVER (PARTITION BY arm ORDER BY t
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      END AS log_survival
         |  FROM risked
         |)
         |SELECT arm, t, n_risk, d AS d_events, c AS c_censored,
         |  round(CAST(log_survival AS DOUBLE), 9) AS log_survival,
         |  CASE WHEN log_survival IS NOT NULL
         |    THEN round(exp(CAST(log_survival AS DOUBLE)), 6)
         |    ELSE 0.0 END AS survival
         |FROM stepped WHERE d > 0 ORDER BY arm, t""".stripMargin,
    "q252_rfm" -> {
      // one quintile mapping CTE per metric, each replaying the
      // RankTransform mid-rank CDF with plain windows (oracle scale)
      def mapCte(src: String, metric: String): String =
        s"""(SELECT v,
           |  least(CAST(floor((CAST(2 * cum - cnt AS DOUBLE)
           |    / CAST(2 * n AS DOUBLE)) * 5) AS BIGINT) + 1, 5) AS q
           |FROM (
           |  SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS cum,
           |    sum(cnt) OVER () AS n
           |  FROM (SELECT $metric AS v, count(*) AS cnt FROM $src
           |        GROUP BY 1) c) w)""".stripMargin
      s"""WITH per AS (
         |  SELECT o_custkey AS cust,
         |    max(epoch_ms(o_orderdate)) AS last_ms,
         |    count(*) AS frequency,
         |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
         |      AS BIGINT)) AS BIGINT) AS monetary_cents
         |  FROM orders GROUP BY 1
         |), anc AS (SELECT max(last_ms) AS now_ms FROM per
         |), met AS (
         |  SELECT cust, (now_ms - last_ms) // 86400000 AS recency_days,
         |    frequency, monetary_cents
         |  FROM per CROSS JOIN anc
         |), rq AS ${mapCte("met", "recency_days")},
         |fq AS ${mapCte("met", "frequency")},
         |mq AS ${mapCte("met", "monetary_cents")},
         |scored AS (
         |  SELECT m.cust, m.recency_days, m.frequency, m.monetary_cents,
         |    6 - rq.q AS r, fq.q AS f, mq.q AS m
         |  FROM met m
         |  JOIN rq ON m.recency_days = rq.v
         |  JOIN fq ON m.frequency = fq.v
         |  JOIN mq ON m.monetary_cents = mq.v
         |)
         |SELECT cust, recency_days, frequency, monetary_cents, r, f, m,
         |  CASE WHEN r >= 4 AND f >= 4 AND m >= 4 THEN 'champion'
         |       WHEN r >= 4 AND f <= 2 THEN 'new'
         |       WHEN r <= 2 AND f >= 3 THEN 'at_risk'
         |       WHEN r <= 2 THEN 'hibernating'
         |       WHEN f >= 4 THEN 'loyal'
         |       ELSE 'regular' END AS segment
         |FROM scored ORDER BY cust""".stripMargin
    },
    "q254_jw_dictionary" ->
      s"""WITH clean AS (SELECT DISTINCT p_name AS cname FROM part),
         |dirty AS (
         |  SELECT p_partkey AS id,
         |    CASE WHEN p_partkey % 4 = 0
         |           THEN substring(p_name, 1, length(p_name) - 1)
         |         WHEN p_partkey % 4 = 1
         |           THEN substring(p_name, 2, 1) || substring(p_name, 1, 1)
         |             || substring(p_name, 3, 1000)
         |         WHEN p_partkey % 4 = 2 THEN p_name || 's'
         |         ELSE p_name END AS dname
         |  FROM part
         |), scored AS (
         |  SELECT id, cname,
         |    round(jaro_winkler_similarity(dname, cname), 9) AS jw
         |  FROM dirty CROSS JOIN clean
         |), best AS (
         |  SELECT id, cname, jw, row_number() OVER (PARTITION BY id
         |    ORDER BY jw DESC, cname DESC) AS rn
         |  FROM scored
         |)
         |SELECT cname AS match_name, count(*) AS n_records,
         |  min(jw) AS min_jw, max(jw) AS max_jw
         |FROM best WHERE rn = 1
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q255_mmr_rerank" -> {
      import PipelineEntry.cosSql
      val lam = MmrLambda.toString
      val oneMinus = (1.0 - MmrLambda).toString // exact double round-trip
      // one CTE pair per greedy stage s >= 2, selecting against the
      // union of earlier picks — the same unrolled stages as
      // Mmr.rerank's plan
      val stages = (2 to MmrK).map { i =>
        val prev = (1 to i - 1).map(j => s"SELECT * FROM s$j")
          .mkString(" UNION ALL ")
        s"""sel$i AS ($prev),
           |sc$i AS (
           |  SELECT r.query_id, r.neighbor_id,
           |    $lam * r.rel - $oneMinus * m.max_sim AS score
           |  FROM (SELECT c.* FROM cand c WHERE NOT EXISTS (
           |      SELECT 1 FROM sel$i p WHERE p.query_id = c.query_id
           |        AND p.neighbor_id = c.neighbor_id)) r
           |  JOIN (SELECT s.query_id, s.a AS neighbor_id,
           |      max(s.sim) AS max_sim
           |    FROM sims s JOIN sel$i p ON p.query_id = s.query_id
           |      AND p.neighbor_id = s.b
           |    GROUP BY 1, 2) m
           |    USING (query_id, neighbor_id)
           |),
           |s$i AS (
           |  SELECT query_id, neighbor_id, $i AS pos, score
           |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY score DESC, neighbor_id) AS rn FROM sc$i)
           |  WHERE rn = 1
           |)""".stripMargin
      }
      val all = (1 to MmrK).map(j => s"SELECT * FROM s$j")
        .mkString(" UNION ALL ")
      s"""WITH q AS (
         |  SELECT vec_id AS query_id,
         |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS qv
         |  FROM embeddings WHERE vec_id < 8
         |), c AS (
         |  SELECT vec_id AS neighbor_id,
         |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS nv
         |  FROM embeddings
         |), scored AS (
         |  SELECT query_id, neighbor_id, ${cosSql("qv", "nv")} AS rel
         |  FROM q JOIN c ON query_id <> neighbor_id
         |), cand AS (
         |  SELECT query_id, neighbor_id, rel
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rel DESC, neighbor_id) AS rk FROM scored)
         |  WHERE rk <= $MmrPool
         |), cv AS (
         |  SELECT cand.query_id, cand.neighbor_id, c.nv
         |  FROM cand JOIN c USING (neighbor_id)
         |), sims AS (
         |  SELECT x.query_id, x.neighbor_id AS a, y.neighbor_id AS b,
         |    ${cosSql("x.nv", "y.nv")} AS sim
         |  FROM cv x JOIN cv y ON x.query_id = y.query_id
         |    AND x.neighbor_id <> y.neighbor_id
         |), s1 AS (
         |  SELECT query_id, neighbor_id, 1 AS pos, $lam * rel AS score
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rel DESC, neighbor_id) AS rn FROM cand)
         |  WHERE rn = 1
         |),
         |${stages.mkString(",\n")}
         |SELECT query_id, neighbor_id, pos, score FROM ($all) u
         |ORDER BY query_id, pos""".stripMargin
    },
    // q37/q77 contract shape: the composed index must return exactly
    // 5 neighbors per query with recall@5 >= 4/5 against brute force
    "q256_ann_ivfpq" ->
      """SELECT CAST(query_id AS BIGINT) AS query_id,
        |  CAST(5 AS BIGINT) AS n_returned, TRUE AS recall_ok
        |FROM (SELECT unnest(range(0, 10)) AS query_id)
        |ORDER BY query_id""".stripMargin,
    // golden-from-synthesis: aggregates restated from the generator
    // formulas (decoded name "x{D} & n{i}" has 6 + digits(D) chars)
    "q258_xml_shred" ->
      """WITH ok AS (
        |  SELECT doc_id, lang, unnest(range(0, 1 + doc_id % 3)) AS i
        |  FROM documents WHERE doc_id % 13 <> 0
        |), rec_agg AS (
        |  SELECT lang, count(*) AS n_records,
        |    CAST(sum((doc_id + i) % 7) AS BIGINT) AS sum_qty,
        |    CAST(sum(6 + length(CAST(doc_id AS VARCHAR))) AS BIGINT)
        |      AS sum_name_chars
        |  FROM ok GROUP BY lang
        |), bad_agg AS (
        |  SELECT lang, count(*) AS n_malformed
        |  FROM documents WHERE doc_id % 13 = 0 GROUP BY lang
        |), all_agg AS (
        |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
        |)
        |SELECT a.lang, a.n_docs,
        |  coalesce(b.n_malformed, 0) AS n_malformed,
        |  coalesce(r.n_records, 0) AS n_records,
        |  r.sum_qty, r.sum_name_chars
        |FROM all_agg a
        |LEFT JOIN bad_agg b USING (lang)
        |LEFT JOIN rec_agg r USING (lang)
        |ORDER BY a.lang""".stripMargin,
    "q259_markov_attribution" -> graft.ops.MarkovAttribution.sql(
      "SELECT user_id AS u, CASE WHEN event_type = 'purchase' " +
        "THEN 'CONV' ELSE event_type END AS ch, ts, event_id AS eid " +
        "FROM events",
      AttrChannels, AttrIters),
    "q260_isotonic_calibration" -> {
      val bktSql = s"(${Sampling.mix30Sql("(doc_id + 7)")}) % 20"
      s"""WITH pts AS (
         |  SELECT $bktSql AS bucket,
         |    CASE WHEN (${Sampling.mix30Sql("doc_id")}) % 1000
         |      < 150 + 35 * ($bktSql) THEN 1 ELSE 0 END AS y
         |  FROM documents
         |), b AS (
         |  SELECT bucket, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos
         |  FROM pts GROUP BY 1
         |), pre AS (
         |  SELECT bucket, n, n_pos,
         |    sum(n) OVER (ORDER BY bucket) AS cn,
         |    sum(n_pos) OVER (ORDER BY bucket) AS cs
         |  FROM b
         |), iv AS (
         |  SELECT l.bucket AS j, h.bucket AS k,
         |    CAST(h.cs - (l.cs - l.n_pos) AS DOUBLE)
         |      / CAST(h.cn - (l.cn - l.n) AS DOUBLE) AS avg
         |  FROM pre l CROSS JOIN pre h WHERE l.bucket <= h.bucket
         |), mn AS (
         |  SELECT b2.bucket AS i, iv.j, min(iv.avg) AS mn
         |  FROM iv JOIN b b2 ON iv.j <= b2.bucket AND b2.bucket <= iv.k
         |  GROUP BY 1, 2
         |), ft AS (SELECT i, max(mn) AS fit FROM mn GROUP BY 1)
         |SELECT b.bucket, b.n, b.n_pos,
         |  round(CAST(b.n_pos AS DOUBLE) / CAST(b.n AS DOUBLE), 9)
         |    AS observed,
         |  round(ft.fit, 9) AS fit
         |FROM b JOIN ft ON b.bucket = ft.i
         |ORDER BY b.bucket""".stripMargin
    },
    "q261_theil_sen" ->
      s"""WITH ${StatsEntry.DailyCte}, pairs AS (
         |  SELECT a.g, CAST(b.x - a.x AS DOUBLE)
         |    / CAST(b.day - a.day AS DOUBLE) AS s
         |  FROM daily a JOIN daily b ON a.g = b.g AND a.day < b.day
         |), rk AS (
         |  SELECT g, s, row_number() OVER (PARTITION BY g ORDER BY s) AS rn,
         |    count(*) OVER (PARTITION BY g) AS m
         |  FROM pairs
         |), mid AS (
         |  SELECT g, s, m FROM rk
         |  WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2
         |), np AS (SELECT g, count(*) AS n_points FROM daily GROUP BY g)
         |SELECT mid.g AS event_type, np.n_points,
         |  CAST(max(mid.m) AS BIGINT) AS n_pairs,
         |  round(avg(mid.s), 9) AS slope
         |FROM mid JOIN np ON mid.g = np.g
         |GROUP BY mid.g, np.n_points
         |ORDER BY event_type""".stripMargin,
    "q262_spearman" ->
      s"""WITH d AS (
         |  SELECT event_type AS g,
         |    epoch_ns(ts) // 1000000 // 86400000 AS day,
         |    CAST(count(*) AS DOUBLE) AS xv,
         |    CAST(CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
         |      AS BIGINT)) AS BIGINT) AS DOUBLE) AS yv
         |  FROM events GROUP BY 1, 2
         |), cx AS (
         |  SELECT g, xv AS v, count(*) AS c FROM d GROUP BY 1, 2
         |), rxx AS (
         |  SELECT g, v,
         |    2 * sum(c) OVER (PARTITION BY g ORDER BY v) - c + 1 AS r
         |  FROM cx
         |), cy AS (
         |  SELECT g, yv AS v, count(*) AS c FROM d GROUP BY 1, 2
         |), ryy AS (
         |  SELECT g, v,
         |    2 * sum(c) OVER (PARTITION BY g ORDER BY v) - c + 1 AS r
         |  FROM cy
         |), j AS (
         |  SELECT d.g, CAST(x.r AS HUGEINT) AS a, CAST(y.r AS HUGEINT) AS b
         |  FROM d JOIN rxx x ON d.g = x.g AND d.xv = x.v
         |  JOIN ryy y ON d.g = y.g AND d.yv = y.v
         |), mom AS (
         |  SELECT g, CAST(count(*) AS HUGEINT) AS n,
         |    sum(a) AS sx, sum(b) AS sy, sum(a * b) AS sxy,
         |    sum(a * a) AS sxx, sum(b * b) AS syy
         |  FROM j GROUP BY g
         |)
         |SELECT g AS event_type, CAST(n AS BIGINT) AS n,
         |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
         |    THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
         |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
         |        * CAST(n * syy - sy * sy AS DOUBLE)), 9)
         |  END AS rho
         |FROM mom ORDER BY event_type""".stripMargin,
    "q263_ccnet_buckets" -> ccnetBucketSql(StatsEntry.LmScoreCte),
    // q334: the same tercile machinery over the KN recompute — the
    // smoothing family end-to-end through the bucket pipeline
    "q334_ccnet_kn" -> ccnetBucketSql(StatsEntry.LmScoreKnCte),
    "q342_ccnet_kn3" -> ccnetBucketSql(StatsEntry.LmScoreKn3Cte,
      gramCol = "n_trigrams", sumCol = "sum_trigrams"),
    "q264_wilson_ci" -> {
      val (rate, lo, hi) = graft.quality.Proportions.wilsonSql()
      s"""WITH a AS (
         |  SELECT event_type AS g, count(*) AS n,
         |    CAST(sum(CASE WHEN value > 100.0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS k
         |  FROM events GROUP BY 1
         |)
         |SELECT g AS event_type, n, k, $rate AS rate,
         |  $lo AS ci_lo, $hi AS ci_hi
         |FROM a ORDER BY event_type""".stripMargin
    },
    "q265_fixed_width" ->
      """WITH src AS (
        |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 10, '0')
        |    || rpad(o_orderstatus, 2, ' ')
        |    || lpad(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |         AS BIGINT) AS VARCHAR), 12, '0')
        |    || rpad(o_orderpriority, 16, ' ') AS line
        |  FROM orders
        |), p AS (
        |  SELECT substring(line, 1, 10) AS okey,
        |    rtrim(substring(line, 11, 2)) AS status,
        |    substring(line, 13, 12) AS cents,
        |    length(line) = 40 AS line_ok
        |  FROM src
        |)
        |SELECT status, count(*) AS n,
        |  CAST(sum(CASE WHEN line_ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_ok,
        |  CAST(sum(CAST(cents AS BIGINT)) AS BIGINT) AS sum_cents,
        |  min(CAST(okey AS BIGINT)) AS min_key,
        |  max(CAST(okey AS BIGINT)) AS max_key
        |FROM p GROUP BY 1 ORDER BY status""".stripMargin,
    "q266_matryoshka" -> {
      import PipelineEntry.cosSql
      def ranked(name: String, vec: String) =
        s"""${name}_s AS (
           |  SELECT q.query_id, c.neighbor_id,
           |    ${cosSql(s"q.$vec", s"c.$vec")} AS cos
           |  FROM ${name}_q q JOIN ${name}_c c
           |    ON q.query_id <> c.neighbor_id
           |), $name AS (
           |  SELECT query_id, neighbor_id,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY cos DESC, neighbor_id) AS rk
           |  FROM ${name}_s
           |)""".stripMargin
      s"""WITH fl_q AS (
         |  SELECT vec_id AS query_id,
         |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS fv
         |  FROM embeddings WHERE vec_id < 8
         |), fl_c AS (
         |  SELECT vec_id AS neighbor_id,
         |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS fv
         |  FROM embeddings
         |), tr_q AS (
         |  SELECT vec_id AS query_id,
         |    list_transform(embedding[1:16], v -> CAST(v AS DOUBLE)) AS tv
         |  FROM embeddings WHERE vec_id < 8
         |), tr_c AS (
         |  SELECT vec_id AS neighbor_id,
         |    list_transform(embedding[1:16], v -> CAST(v AS DOUBLE)) AS tv
         |  FROM embeddings
         |),
         |${ranked("fl", "fv")},
         |${ranked("tr", "tv")},
         |f5 AS (SELECT query_id, neighbor_id FROM fl WHERE rk <= 5),
         |t5 AS (SELECT query_id, neighbor_id FROM tr WHERE rk <= 5),
         |ov AS (
         |  SELECT f.query_id, count(*) AS n_full,
         |    CAST(sum(CASE WHEN t.neighbor_id IS NULL THEN 0 ELSE 1 END)
         |      AS BIGINT) AS n_overlap
         |  FROM f5 f LEFT JOIN t5 t
         |    ON f.query_id = t.query_id
         |    AND f.neighbor_id = t.neighbor_id
         |  GROUP BY f.query_id
         |), one AS (
         |  SELECT a.query_id,
         |    a.neighbor_id = b.neighbor_id AS top1_same
         |  FROM (SELECT query_id, neighbor_id FROM fl WHERE rk = 1) a
         |  JOIN (SELECT query_id, neighbor_id FROM tr WHERE rk = 1) b
         |    USING (query_id)
         |)
         |SELECT query_id, n_full, n_overlap, top1_same
         |FROM ov JOIN one USING (query_id)
         |ORDER BY query_id""".stripMargin
    },
    "q267_bh_fdr" ->
      s"""WITH ${StatsEntry.CumCte}, ${StatsEntry.MwuZCte}, zz AS (
         |  SELECT g AS test_id, round(ctr / sqrt(varu), 6) AS z
         |  FROM v WHERE varu > 0
         |), tests AS (
         |  SELECT test_id, ${graft.quality.Fdr.normPSql("z")} AS p
         |  FROM zz
         |), ranked AS (
         |  SELECT test_id, p,
         |    row_number() OVER (ORDER BY p, test_id) AS rk,
         |    count(*) OVER () AS m
         |  FROM tests
         |), ks AS (
         |  SELECT max(CASE WHEN p * CAST(m AS DOUBLE)
         |    <= 0.05 * CAST(rk AS DOUBLE) THEN rk END) AS kstar
         |  FROM ranked
         |)
         |SELECT test_id, p, CAST(rk AS BIGINT) AS rk,
         |  CAST(m AS BIGINT) AS m,
         |  (kstar IS NOT NULL AND rk <= kstar) AS rejected
         |FROM ranked CROSS JOIN ks ORDER BY rk""".stripMargin,
    "q268_cuped" ->
      """WITH ev AS (
        |  SELECT event_type AS g, user_id,
        |    epoch_ns(ts) // 1000000 // 86400000 AS day,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events
        |), lo AS (SELECT min(day) AS lo FROM ev),
        |units AS (
        |  SELECT g, user_id, user_id % 2 AS arm,
        |    CAST(sum(CASE WHEN day < lo + 15 THEN cents ELSE 0 END)
        |      AS HUGEINT) AS x,
        |    CAST(sum(CASE WHEN day >= lo + 15 THEN cents ELSE 0 END)
        |      AS HUGEINT) AS y
        |  FROM ev CROSS JOIN lo GROUP BY 1, 2, 3
        |), arms AS (
        |  SELECT g, arm, CAST(count(*) AS HUGEINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM units GROUP BY 1, 2
        |), pooled AS (
        |  SELECT g, sum(n) AS pn, sum(sx) AS psx, sum(sy) AS psy,
        |    sum(sxy) AS psxy, sum(sxx) AS psxx, sum(syy) AS psyy
        |  FROM arms GROUP BY g
        |), stats AS (
        |  SELECT g,
        |    CAST(pn * psxx - psx * psx AS DOUBLE) AS varx,
        |    CAST(pn * psyy - psy * psy AS DOUBLE) AS vary,
        |    CAST(pn * psxy - psx * psy AS DOUBLE) AS covxy,
        |    CAST(psx AS DOUBLE) / CAST(pn AS DOUBLE) AS xbar
        |  FROM pooled
        |)
        |SELECT a.g AS event_type, a.arm, CAST(a.n AS BIGINT) AS n,
        |  round(CAST(a.sy AS DOUBLE) / CAST(a.n AS DOUBLE), 9) AS mean_y,
        |  round(CAST(a.sy AS DOUBLE) / CAST(a.n AS DOUBLE)
        |    - (CASE WHEN s.varx > 0 THEN s.covxy / s.varx ELSE 0.0 END)
        |      * (CAST(a.sx AS DOUBLE) / CAST(a.n AS DOUBLE) - s.xbar), 9)
        |    AS mean_y_adj,
        |  round(CASE WHEN s.varx > 0 THEN s.covxy / s.varx ELSE 0.0 END, 9)
        |    AS theta,
        |  CASE WHEN s.varx > 0 AND s.vary > 0
        |    THEN round((s.covxy * s.covxy) / (s.varx * s.vary), 9)
        |  END AS rho2
        |FROM arms a JOIN stats s USING (g)
        |ORDER BY event_type, arm""".stripMargin,
    "q269_stream_upsert" ->
      """WITH r AS (
        |  SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
        |  FROM events
        |), c AS (
        |  SELECT user_id, count(*) AS n_events FROM events GROUP BY 1
        |)
        |SELECT r.user_id, r.event_id AS last_event_id,
        |  r.event_type AS last_type, c.n_events
        |FROM r JOIN c USING (user_id) WHERE rn = 1
        |ORDER BY user_id""".stripMargin,
    "q270_conformal" ->
      s"""WITH RECURSIVE ${StatsEntry.DailyCte}, $HoltCte,
         |lo AS (SELECT min(day) AS lo FROM daily),
         |rs AS (
         |  SELECT g, abs(x * 1000000 - fc) AS resid,
         |    day < lo + 20 AS is_cal
         |  FROM rec CROSS JOIN lo
         |), cal AS (
         |  SELECT g, resid,
         |    row_number() OVER (PARTITION BY g ORDER BY resid) AS rn,
         |    count(*) OVER (PARTITION BY g) AS n_cal
         |  FROM rs WHERE is_cal
         |), rad AS (
         |  SELECT g, n_cal, resid AS radius FROM cal
         |  WHERE rn = least((9 * (n_cal + 1) + 9) // 10, n_cal)
         |)
         |SELECT r.g AS event_type, CAST(rad.n_cal AS BIGINT) AS n_cal,
         |  count(*) AS n_test, CAST(rad.radius AS BIGINT) AS radius,
         |  round(CAST(sum(CASE WHEN r.resid <= rad.radius
         |      THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 9) AS coverage
         |FROM rs r JOIN rad USING (g) WHERE NOT r.is_cal
         |GROUP BY r.g, rad.n_cal, rad.radius
         |ORDER BY event_type""".stripMargin,
    // golden lifecycle (q39 convention): steps/conflicts are literal,
    // the final row count restates the orders predicate
    "q271_occ_commit" ->
      """WITH nl AS (
        |  SELECT count(*) AS n_latest FROM orders
        |  WHERE o_orderkey % 4 = 2
        |)
        |SELECT CAST(s.step AS BIGINT) AS step,
        |  CAST(s.expected_version AS BIGINT) AS expected_version,
        |  s.outcome, CAST(s.version_after AS BIGINT) AS version_after,
        |  nl.n_latest
        |FROM (VALUES
        |  (1, -1, 'committed', 0),
        |  (2, 0, 'committed', 1),
        |  (3, 0, 'conflict', 1),
        |  (4, 1, 'committed', 2)) s(step, expected_version, outcome,
        |    version_after)
        |CROSS JOIN nl ORDER BY s.step""".stripMargin,
    "q272_shallow_clone" ->
      """WITH legs AS (
        |  SELECT 'clone_v0' AS leg, o_orderpriority,
        |    count(*) AS n_orders
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
        |  GROUP BY 2
        |  UNION ALL
        |  SELECT 'clone_v1', o_orderpriority, count(*)
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 2
        |  UNION ALL
        |  SELECT 'src_latest', o_orderpriority, count(*)
        |  FROM orders GROUP BY 2
        |)
        |SELECT leg, o_orderpriority, n_orders FROM legs
        |ORDER BY leg, o_orderpriority""".stripMargin,
    "q273_kruskal_wallis" ->
      """WITH base AS (
        |  SELECT event_type AS g, user_id % 3 AS grp, value AS v
        |  FROM events
        |), pv AS (
        |  SELECT g, v, count(*) AS m FROM base GROUP BY 1, 2
        |), rk AS (
        |  SELECT g, v, m,
        |    2 * sum(m) OVER (PARTITION BY g ORDER BY v) - m + 1 AS r2
        |  FROM pv
        |), pg AS (
        |  SELECT g, grp, v, count(*) AS c FROM base GROUP BY 1, 2, 3
        |), gr AS (
        |  SELECT p.g, p.grp,
        |    sum(CAST(p.c AS HUGEINT) * r.r2) AS r2sum,
        |    CAST(sum(p.c) AS BIGINT) AS n_i
        |  FROM pg p JOIN rk r ON p.g = r.g AND p.v = r.v
        |  GROUP BY 1, 2
        |), terms AS (
        |  SELECT g, count(*) AS k_groups,
        |    sum(CAST(round(CAST(r2sum * r2sum AS DOUBLE)
        |      / CAST(n_i AS DOUBLE), 6) AS DECIMAL(38,6))) AS s
        |  FROM gr GROUP BY g
        |), ties AS (
        |  SELECT g, CAST(sum(m) AS BIGINT) AS n,
        |    sum(CAST(m AS HUGEINT) * m * m - m) AS tsum
        |  FROM pv GROUP BY g
        |), hh AS (
        |  SELECT t2.g, ties.n, t2.k_groups,
        |    3.0 / (CAST(ties.n AS DOUBLE) * (CAST(ties.n AS DOUBLE) + 1.0))
        |      * CAST(t2.s AS DOUBLE)
        |      - 3.0 * (CAST(ties.n AS DOUBLE) + 1.0) AS h_raw,
        |    1.0 - CAST(ties.tsum AS DOUBLE)
        |      / (CAST(ties.n AS DOUBLE) * CAST(ties.n AS DOUBLE)
        |        * CAST(ties.n AS DOUBLE) - CAST(ties.n AS DOUBLE)) AS corr
        |  FROM terms t2 JOIN ties USING (g)
        |)
        |SELECT g AS event_type, n, k_groups,
        |  CAST(k_groups - 1 AS BIGINT) AS df,
        |  CASE WHEN corr > 0 THEN round(h_raw / corr, 6) END AS h,
        |  CASE WHEN corr > 0
        |    THEN round(h_raw / corr, 6) > 5.991464547 END AS significant
        |FROM hh ORDER BY event_type""".stripMargin)
}
