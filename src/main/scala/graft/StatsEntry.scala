package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextHashes
import graft.sources.Tables.{load => t}

/** q225+: the round-8 statistics/time-series/graph tail —
  * nonparametric two-sample tests (KS, Mann–Whitney) next to q189's
  * Welch readout; autocorrelation and weekday seasonality next to
  * q176's OLS trend; fixed-point EWMA smoothing; k-core graph
  * peeling next to q131's PageRank; readability scoring; column
  * entropy profiling. Same conventions as the earlier entry objects:
  * deterministic fixtures from the driver corpus, oracles restating
  * the semantics in portable SQL (or generated from the SAME
  * constants as the Spark plan).
  */
object StatsEntry {

  // ---------------------------------------------------------------
  // q225 — two-sample Kolmogorov–Smirnov per event type
  // (quality/RankTests.ksTest): arms split by user_id parity, the
  // q189 experiment fixture re-read through the distribution-shape
  // lens. Integer cross-multiplied ECDF gaps; one value-count
  // groupBy + two tiny keyed windows.
  // ---------------------------------------------------------------
  private def q225(s: SparkSession, dir: String): DataFrame =
    graft.quality.RankTests.ksTest(t(s, dir, "events"), "event_type",
        pmod(col("user_id"), lit(2)) === 1, "value")
      .withColumnRenamed("stratum", "event_type")
      .orderBy("event_type")

  // ---------------------------------------------------------------
  // q226 — Mann–Whitney U per event type (RankTests.mannWhitney):
  // the rank-sum "does one arm dominate?" readout with mid-rank tie
  // handling and the tie-corrected normal z. Doubled ranks stay
  // integer until the closing fixed double chain.
  // ---------------------------------------------------------------
  private def q226(s: SparkSession, dir: String): DataFrame =
    graft.quality.RankTests.mannWhitney(t(s, dir, "events"),
        "event_type", pmod(col("user_id"), lit(2)) === 1, "value")
      .withColumnRenamed("stratum", "event_type")
      .orderBy("event_type")

  /** Shared time-series fixture: daily revenue per event type in
    * exact cents on a zero-filled calendar spine (a missing day IS a
    * zero-revenue day — the honest denominator for seasonality and
    * the equally-spaced index ACF requires). Spine = bounded
    * (lo..hi) sequence × distinct series, both broadcast-sized.
    */
  private[graft] def dailyCents(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type").as("g"),
        expr("(ts div 1000000) div 86400000").as("day"))
      .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
        .as("cents"))
    val bounds = daily.agg(min("day").as("lo"), max("day").as("hi"))
    val days = broadcast(bounds)
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val spine = daily.select("g").distinct().crossJoin(days)
    spine.join(daily, Seq("g", "day"), "left")
      .select(col("g"), col("day"),
        coalesce(col("cents"), lit(0L)).as("x"))
  }

  // ---------------------------------------------------------------
  // q227 — autocorrelation (ops/Acf): r_1..r_7 of daily revenue per
  // event type; mean multiplied out so every sum is an exact
  // integer, one keyed lag self-join. The weekly lag-7 spike (if
  // any) is the seasonality q228 then decomposes.
  // ---------------------------------------------------------------
  private def q227(s: SparkSession, dir: String): DataFrame =
    graft.ops.Acf.acf(dailyCents(s, dir).withColumnRenamed("day", "t"),
        maxLag = 7)
      .withColumnRenamed("g", "event_type")
      .orderBy("event_type", "lag")

  // ---------------------------------------------------------------
  // q228 — weekday seasonal profile (ops/Seasonal): multiplicative
  // day-of-week indices over the same spine; exact rational
  // (S_w·n)/(n_w·S) closed as one double division.
  // ---------------------------------------------------------------
  private def q228(s: SparkSession, dir: String): DataFrame =
    graft.ops.Seasonal.weekdayProfile(dailyCents(s, dir))
      .withColumnRenamed("g", "event_type")
      .orderBy("event_type", "dow")

  // ---------------------------------------------------------------
  // q229 — EWMA baseline (ops/Ewma): α = 1/4 fixed-point smoothing
  // of the daily series; the integer recursion is bit-exact, so the
  // oracle replays it with a recursive CTE and matches to the digit.
  // ---------------------------------------------------------------
  private def q229(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ewma.smooth(
        dailyCents(s, dir).withColumnRenamed("day", "t"),
        alphaNum = 1, alphaDen = 4)
      .withColumnRenamed("g", "event_type")
      .withColumnRenamed("t", "day")
      .orderBy("event_type", "day")

  // ---------------------------------------------------------------
  // q231 — Flesch readability (text/Readability): reading ease +
  // Kincaid grade from regex-only word/sentence/vowel-group counts
  // — a pure codegen'd projection; the oracle runs the IDENTICAL
  // RE2-portable patterns and double chains.
  // ---------------------------------------------------------------
  private def q231(s: SparkSession, dir: String): DataFrame =
    graft.text.Readability.score(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  // ---------------------------------------------------------------
  // q232 — column entropy profile (quality/Entropy): Shannon
  // entropy + cardinality classification over four orders columns
  // (id_like / categorical split falls out of the census); ln terms
  // µ-quantized before the decimal total (q185's discipline).
  // ---------------------------------------------------------------
  private def q232(s: SparkSession, dir: String): DataFrame =
    graft.quality.Entropy.profile(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
      .orderBy("column")

  // ---------------------------------------------------------------
  // q233 — containment dedup (dedup/Dedup.containment): quote /
  // subset detection. Probes are synthesized quotes — every 10th
  // doc's first half plus unique padding, so containment in the
  // source is high while Jaccard is low (exactly the pair a
  // symmetric threshold misses). Broadcast inverted-index probe;
  // integer threshold compare; unrounded exact division.
  // ---------------------------------------------------------------
  private def q233(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val probes = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        expr("concat(concat_ws(' ', slice(split(text, ' '), 1, " +
          "greatest(size(split(text, ' ')) div 2, 1))), ' qx qy qz')")
          .as("text"))
    graft.dedup.Dedup.containment(docs, probes, "doc_id", "text",
        n = 3, tauPct = 70, minShared = 3)
      .orderBy("corpus_id", "probe_id")
  }

  // ---------------------------------------------------------------
  // q234 — bigram-LM scoring (text/LmFilter.bigramLogprob): add-one
  // smoothed LM trained on the even-id half of the corpus, odd-id
  // half scored per bigram occurrence — the CCNet/KenLM perplexity-
  // filter join shape with engine-exact arithmetic (µ-quantized ln
  // terms, decimal totals, one closing division).
  // ---------------------------------------------------------------
  private def q234(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    graft.text.LmFilter.bigramLogprob(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // q235 — smoothed mean-target encoding (ops/Encoders.meanTarget):
  // order priority → expected order value in cents, shrunk toward
  // the global mean by pseudo-count 10; exact decimal products, one
  // double division.
  // ---------------------------------------------------------------
  private def q235(s: SparkSession, dir: String): DataFrame =
    graft.ops.Encoders.meanTarget(
        t(s, dir, "orders").select(col("o_orderpriority").as("cat"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            .as("y")), m = 10)
      .orderBy("category")

  // ---------------------------------------------------------------
  // q236 — hashing-trick census (text/FeatureHash): vocabulary
  // folded into 64 buckets by the portable polynomial hash;
  // occupancy + collision pressure per bucket.
  // ---------------------------------------------------------------
  private def q236(s: SparkSession, dir: String): DataFrame =
    graft.text.FeatureHash.census(t(s, dir, "documents"), "text", 64)
      .orderBy("bucket")

  // ---------------------------------------------------------------
  // q237 — class-rebalance cap (Sampling.capPerClass): ≤ 500 events
  // per type, kept set pinned by the portable (mix30(id), id) rank;
  // the sum of kept ids in the report pins the EXACT selection, not
  // just its size.
  // ---------------------------------------------------------------
  private def q237(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select("event_type", "event_id")
    val kept = graft.ops.Sampling.capPerClass(ev, "event_type",
      "event_id", 500)
    ev.groupBy("event_type").agg(count(lit(1)).as("n_before"))
      .join(kept.groupBy("event_type")
        .agg(count(lit(1)).as("n_after"),
          sum(col("event_id")).as("sum_kept_ids")), "event_type")
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------
  // q239 — quantile transform mapping (quality/RankTransform): the
  // distinct-value → mid-rank CDF table for l_quantity; two-level
  // bucketed prefix, no global sort; cdf is one exact int/int
  // division, unrounded.
  // ---------------------------------------------------------------
  private def q239(s: SparkSession, dir: String): DataFrame =
    graft.quality.RankTransform.cdf(t(s, dir, "lineitem"), "l_quantity")
      .orderBy("v")

  // ---------------------------------------------------------------
  // q240 — schema inference census (quality/TypeInfer): string
  // columns synthesized from orders with engine-identical rendering
  // (int text, decimal text, strftime dates, booleans, 10% junk in
  // the mixed column) classified by the strict promotion ladder on
  // integer counts.
  // ---------------------------------------------------------------
  private def q240(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(
      col("o_orderkey").cast("string").as("int_col"),
      concat(col("o_orderkey").cast("string"), lit(".5")).as("float_col"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("date_col"),
      when(col("o_orderkey") % 2 === 0, "true").otherwise("false")
        .as("bool_col"),
      when(col("o_orderkey") % 10 === 0, lit("n/a"))
        .otherwise(col("o_orderkey").cast("string")).as("mixed_col"))
    graft.quality.TypeInfer.infer(base,
        Seq("int_col", "float_col", "date_col", "bool_col", "mixed_col"))
      .orderBy("column")
  }

  // ---------------------------------------------------------------
  // q241 — t-closeness (quality/Anonymity.tCloseness): per-nation
  // order-priority distributions vs the global one, 1-D ordinal EMD
  // with cross-multiplied integer CDF gaps (the q225 discipline),
  // one closing division; t = 0.2.
  // ---------------------------------------------------------------
  private def q241(s: SparkSession, dir: String): DataFrame =
    graft.quality.Anonymity.tCloseness(
        t(s, dir, "customer")
          .join(t(s, dir, "orders"),
            col("c_custkey") === col("o_custkey"))
          .select(col("c_nationkey").as("g"),
            col("o_orderpriority").as("sv")), t = 0.2)
      .orderBy("g")

  // ---------------------------------------------------------------
  // q242 — dup-cluster purity (governance over the q38 chain: who
  // is duplicating whom?): near-dup components labeled with their
  // doc source (synthetic clones label 'clone'), per-cluster source
  // diversity + dominant share. Cross-source clusters are the
  // licensing/provenance review queue.
  // ---------------------------------------------------------------
  private def q242(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    val pairs = Dedup.ngramJaccard(PipelineEntry.nearCorpus(s, dir),
      "doc_id", "text", n = 4, tau = 0.8)
    val cl = Dedup.clusters(pairs)
    val srcs = t(s, dir, "documents")
      .select(col("doc_id").as("orig_id"), col("source"))
    val labeled = cl
      .withColumn("orig_id", when(col("doc_id") >= 1000000L,
        col("doc_id") - 1000000L).otherwise(col("doc_id")))
      .join(srcs, "orig_id")
      .withColumn("src", when(col("doc_id") >= 1000000L, lit("clone"))
        .otherwise(col("source")))
    labeled.groupBy("cluster_id", "src").agg(count(lit(1)).as("c"))
      .groupBy("cluster_id")
      .agg(sum("c").as("n_docs"), count(lit(1)).as("n_sources"),
        max("c").as("top_c"))
      .select(col("cluster_id"), col("n_docs"), col("n_sources"),
        (col("top_c").cast("double") / col("n_docs").cast("double"))
          .as("top_share"),
        (col("n_sources") > 1).as("cross_source"))
      .orderBy("cluster_id")
  }

  // ---------------------------------------------------------------
  // q243 — split-leakage audit (the governance proof of WHY q113's
  // by-cluster split exists): exact-dup clusters (the q22 fixture —
  // every 50th doc cloned) under two split policies. Splitting on
  // the doc id strands copies across train/test (leakage > 0);
  // splitting on the cluster id provably cannot (the report pins
  // the 0). Spark keys clusters by (xxhash64, len) — the scale
  // shape; the oracle groups by text (collision-free equivalence,
  // the q22 contract).
  // ---------------------------------------------------------------
  private def q243(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.Sampling.mix30
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val corpus = docs.unionByName(docs.filter(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L))
    val wk = Window.partitionBy("h", "len")
    val multi = corpus
      .withColumn("h", xxhash64(col("text")))
      .withColumn("len", length(col("text")))
      .withColumn("cluster_id", min(col("doc_id")).over(wk))
      .withColumn("sz", count(lit(1)).over(wk))
      .filter(col("sz") > 1)
      .select("doc_id", "cluster_id")
    def report(method: String, splitKey: org.apache.spark.sql.Column) =
      multi.withColumn("tr", pmod(mix30(splitKey), lit(10L)) < 8)
        .groupBy("cluster_id")
        .agg(count_distinct(col("tr")).as("nsplits"))
        .agg(count(lit(1)).as("n_clusters"),
          count(when(col("nsplits") > 1, 1)).as("n_crossing"))
        .select(lit(method).as("method"), col("n_clusters"),
          col("n_crossing"))
    report("naive_by_doc", col("doc_id"))
      .unionByName(report("by_cluster", col("cluster_id")))
      .orderBy("method")
  }

  // ---------------------------------------------------------------
  // q245 — activity burstiness (quality/Burstiness.fano): per-user
  // Fano factor of daily event counts over the shared calendar —
  // metronome bots near 0, organic near 1, scrapers/bursts ≫ 1;
  // one exact int/int division, unrounded.
  // ---------------------------------------------------------------
  private def q245(s: SparkSession, dir: String): DataFrame =
    graft.quality.Burstiness.fano(
        t(s, dir, "events").select(col("user_id").as("id"),
          expr("(ts div 1000000) div 86400000").as("day")),
        minEvents = 5, tau = 2.0)
      .orderBy("id")

  // ---------------------------------------------------------------
  // q246 — seasonality-adjusted anomaly days
  // (ops/SeasonalAnomaly): each day scored against its own
  // (series, weekday) population — "low for a Tuesday" — on the
  // q227/q228 spine; flagged days only.
  // ---------------------------------------------------------------
  private def q246(s: SparkSession, dir: String): DataFrame =
    graft.ops.SeasonalAnomaly.flag(dailyCents(s, dir), k = 1.5)
      .withColumnRenamed("g", "event_type")
      .orderBy("event_type", "day")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q245_burstiness" -> (q245 _),
    "q246_seasonal_anomaly" -> (q246 _),
    "q241_tcloseness" -> (q241 _),
    "q242_cluster_purity" -> (q242 _),
    "q243_split_leakage" -> (q243 _),
    "q239_rank_transform" -> (q239 _),
    "q240_type_infer" -> (q240 _),
    "q234_lm_score" -> (q234 _),
    "q235_target_encoding" -> (q235 _),
    "q236_feature_hash" -> (q236 _),
    "q237_class_cap" -> (q237 _),
    "q233_containment" -> (q233 _),
    "q225_ks_test" -> (q225 _),
    "q226_mann_whitney" -> (q226 _),
    "q227_acf" -> (q227 _),
    "q228_seasonality" -> (q228 _),
    "q229_ewma" -> (q229 _),
    "q231_readability" -> (q231 _),
    "q232_entropy_profile" -> (q232 _))

  // shared CTE: per-(event_type, value) arm counts + cumulative arm
  // counts — the oracle restates RankTests.cumulativeCounts with a
  // plain per-stratum window (the two-level bucket prefix is a scale
  // shape, not a semantic: same cumulative counts)
  private[graft] val CumCte =
    """base AS (
      |  SELECT event_type AS g, value AS v,
      |    CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS isb
      |  FROM events
      |), pv AS (
      |  SELECT g, v, CAST(sum(1 - isb) AS BIGINT) AS ca,
      |    CAST(sum(isb) AS BIGINT) AS cb
      |  FROM base GROUP BY g, v
      |), cum AS (
      |  SELECT g, v, ca, cb,
      |    CAST(sum(ca) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cuma,
      |    CAST(sum(cb) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cumb
      |  FROM pv
      |), cnt AS (
      |  SELECT g, CAST(sum(ca) AS BIGINT) AS n_a,
      |    CAST(sum(cb) AS BIGINT) AS n_b
      |  FROM pv GROUP BY g
      |)""".stripMargin

  // shared CTE: the zero-filled daily-cents spine, restated (DuckDB
  // HUGEINT carries the exact integer arithmetic the Spark side
  // does in DECIMAL(38,0) — only the final doubles are compared)
  /** Shared q234/q263 oracle CTE chain ending in
    * `lm_scores(doc_id, n_bigrams, n_unseen, avg_logprob)` — the
    * even-half-trained add-one bigram LM scoring the odd half.
    */
  private[graft] val LmScoreCte: String =
    s"""toksall AS (
      |  SELECT doc_id,
      |    ${TextHashes.wordTokensSql("text")} AS t
      |  FROM documents
      |), ref AS (SELECT * FROM toksall WHERE doc_id % 2 = 0),
      |tgt AS (SELECT * FROM toksall WHERE doc_id % 2 = 1),
      |uni AS (
      |  SELECT w, count(*) AS c_a FROM
      |    (SELECT unnest(t) AS w FROM ref) GROUP BY w
      |), vv AS (SELECT count(*) AS v FROM uni),
      |refbi AS (
      |  SELECT ab, count(*) AS c_ab FROM (
      |    SELECT unnest(list_transform(range(1, len(t)),
      |      i -> t[i] || ' ' || t[i+1])) AS ab
      |    FROM ref WHERE len(t) >= 2) GROUP BY ab
      |), db AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
      |    i -> t[i] || ' ' || t[i+1])) AS ab
      |  FROM tgt WHERE len(t) >= 2
      |), j AS (
      |  SELECT d.doc_id, string_split(d.ab, ' ')[1] AS a, r.c_ab
      |  FROM db d LEFT JOIN refbi r USING (ab)
      |), terms AS (
      |  SELECT j.doc_id, j.c_ab,
      |    CAST(round(ln(CAST(COALESCE(j.c_ab, 0) + 1 AS DOUBLE)
      |      / CAST(COALESCE(u.c_a, 0) + v AS DOUBLE)), 6)
      |      AS DECIMAL(28,6)) AS term
      |  FROM j LEFT JOIN uni u ON j.a = u.w CROSS JOIN vv
      |), lm_scores AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    CAST(count(*) FILTER (WHERE c_ab IS NULL) AS BIGINT)
      |      AS n_unseen,
      |    round(CAST(sum(term) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
      |      AS avg_logprob
      |  FROM terms GROUP BY doc_id
      |)""".stripMargin

  /** λ (permille) of the q330 Jelinek-Mercer fixture — shared by the
    * Spark plan and the oracle so both derive the identical double
    * from the same integer. */
  private[graft] val JmLambdaPermille = 700

  /** q330's oracle: [[LmScoreCte]]'s corpus split and count tables,
    * scored with the INTERPOLATED term instead of add-one —
    *   λ·(c_ab/c_a  when c_a>0 else 0) + (1−λ)·(c_b+1)/(T+V)
    * with λ = JmLambdaPermille/1000.0 (the same IEEE division both
    * engines perform), c_b the second token's unigram count and
    * T = Σ c_a. Ends in `lm_scores` with q325's column contract.
    */
  private[graft] val LmScoreJmCte: String = {
    val lam = s"($JmLambdaPermille / 1000.0)"
    s"""toksall AS (
       |  SELECT doc_id,
       |    ${TextHashes.wordTokensSql("text")} AS t
       |  FROM documents
       |), ref AS (SELECT * FROM toksall WHERE doc_id % 2 = 0),
       |tgt AS (SELECT * FROM toksall WHERE doc_id % 2 = 1),
       |uni AS (
       |  SELECT w, count(*) AS c_a FROM
       |    (SELECT unnest(t) AS w FROM ref) GROUP BY w
       |), vv AS (
       |  SELECT count(*) AS v, CAST(sum(c_a) AS BIGINT) AS tt FROM uni
       |), refbi AS (
       |  SELECT ab, count(*) AS c_ab FROM (
       |    SELECT unnest(list_transform(range(1, len(t)),
       |      i -> t[i] || ' ' || t[i+1])) AS ab
       |    FROM ref WHERE len(t) >= 2) GROUP BY ab
       |), db AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
       |    i -> t[i] || ' ' || t[i+1])) AS ab
       |  FROM tgt WHERE len(t) >= 2
       |), j AS (
       |  SELECT d.doc_id, string_split(d.ab, ' ')[1] AS a,
       |    string_split(d.ab, ' ')[2] AS b2, r.c_ab
       |  FROM db d LEFT JOIN refbi r USING (ab)
       |), terms AS (
       |  SELECT j.doc_id, j.c_ab,
       |    CAST(round(ln(
       |      $lam * (CASE WHEN COALESCE(u.c_a, 0) > 0
       |        THEN CAST(COALESCE(j.c_ab, 0) AS DOUBLE)
       |          / CAST(u.c_a AS DOUBLE) ELSE 0.0 END)
       |      + (1.0 - $lam)
       |        * (CAST(COALESCE(ub.c_a, 0) + 1 AS DOUBLE)
       |          / CAST(tt + v AS DOUBLE))), 6)
       |      AS DECIMAL(28,6)) AS term
       |  FROM j LEFT JOIN uni u ON j.a = u.w
       |    LEFT JOIN uni ub ON j.b2 = ub.w
       |    CROSS JOIN vv
       |), lm_scores AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(count(*) FILTER (WHERE c_ab IS NULL) AS BIGINT)
       |      AS n_unseen,
       |    round(CAST(sum(term) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
       |      AS avg_logprob
       |  FROM terms GROUP BY doc_id
       |)""".stripMargin
  }

  /** D (permille) of the q332 Kneser-Ney fixture — shared by the
    * Spark plan and the oracle. */
  private[graft] val KnDiscountPermille = 750

  /** q332's oracle: [[LmScoreCte]]'s corpus split and count tables,
    * scored with interpolated Kneser-Ney —
    *   P(b|a) = max(c_ab−D,0)/c_a + (D·N1+(a)/c_a)·P_cont(b)
    *   P_cont(b) = (N_ctx(b)+1)/(B+V)
    * with D = KnDiscountPermille/1000.0, N1+/N_ctx/B all derived
    * from the bigram count table, and the degenerate-context backoff
    * (c_a = 0 or N1+(a) = 0 → P_cont(b) alone) restated exactly as
    * the engine contract defines it. Ends in `lm_scores` with q325's
    * column contract.
    */
  private[graft] val LmScoreKnCte: String = {
    val d = s"($KnDiscountPermille / 1000.0)"
    s"""toksall AS (
       |  SELECT doc_id,
       |    ${TextHashes.wordTokensSql("text")} AS t
       |  FROM documents
       |), ref AS (SELECT * FROM toksall WHERE doc_id % 2 = 0),
       |tgt AS (SELECT * FROM toksall WHERE doc_id % 2 = 1),
       |uni AS (
       |  SELECT w, count(*) AS c_a FROM
       |    (SELECT unnest(t) AS w FROM ref) GROUP BY w
       |), refbi AS (
       |  SELECT ab, count(*) AS c_ab FROM (
       |    SELECT unnest(list_transform(range(1, len(t)),
       |      i -> t[i] || ' ' || t[i+1])) AS ab
       |    FROM ref WHERE len(t) >= 2) GROUP BY ab
       |), n1p AS (
       |  SELECT string_split(ab, ' ')[1] AS a, count(*) AS n1p
       |  FROM refbi GROUP BY 1
       |), nctx AS (
       |  SELECT string_split(ab, ' ')[2] AS b2, count(*) AS nctx
       |  FROM refbi GROUP BY 1
       |), vv AS (
       |  SELECT CAST((SELECT count(*) FROM uni) AS BIGINT) AS v,
       |         CAST((SELECT count(*) FROM refbi) AS BIGINT) AS bt
       |), db AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
       |    i -> t[i] || ' ' || t[i+1])) AS ab
       |  FROM tgt WHERE len(t) >= 2
       |), j AS (
       |  SELECT d.doc_id, string_split(d.ab, ' ')[1] AS a,
       |    string_split(d.ab, ' ')[2] AS b2, r.c_ab
       |  FROM db d LEFT JOIN refbi r USING (ab)
       |), terms AS (
       |  SELECT j.doc_id, j.c_ab,
       |    CAST(round(ln(
       |      CASE WHEN COALESCE(u.c_a, 0) > 0 AND COALESCE(np.n1p, 0) > 0
       |        THEN greatest(CAST(COALESCE(j.c_ab, 0) AS DOUBLE) - $d, 0)
       |            / CAST(u.c_a AS DOUBLE)
       |          + ((($d) * CAST(np.n1p AS DOUBLE))
       |              / CAST(u.c_a AS DOUBLE))
       |            * (CAST(COALESCE(nc.nctx, 0) + 1 AS DOUBLE)
       |              / CAST(bt + v AS DOUBLE))
       |        ELSE CAST(COALESCE(nc.nctx, 0) + 1 AS DOUBLE)
       |          / CAST(bt + v AS DOUBLE)
       |      END), 6) AS DECIMAL(28,6)) AS term
       |  FROM j LEFT JOIN uni u ON j.a = u.w
       |    LEFT JOIN n1p np ON j.a = np.a
       |    LEFT JOIN nctx nc ON j.b2 = nc.b2
       |    CROSS JOIN vv
       |), lm_scores AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(count(*) FILTER (WHERE c_ab IS NULL) AS BIGINT)
       |      AS n_unseen,
       |    round(CAST(sum(term) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
       |      AS avg_logprob
       |  FROM terms GROUP BY doc_id
       |)""".stripMargin
  }

  /** q341's oracle: the ORDER-3 interpolated Kneser-Ney full
    * recompute — [[LmScoreKnCte]]'s corpus split, scored with the
    * three-level chain LmFilter.trigramLogprob executes:
    *   P₃(c|ab) = max(c_abc−D,0)/c_ab + (D·n1p3(ab)/c_ab)·P₂(c|b)
    *   P₂(c|b)  = max(nctx3(bc)−D,0)/nmid(b)
    *              + (D·n1pmid(b)/nmid(b))·P_cont(c)
    *   P_cont(c) = (nctx2(c)+1)/(B+V)
    * with the degenerate backoffs (c_ab=0 or n1p3=0 → P₂; nmid=0 →
    * P_cont) restated exactly, every double composed in the
    * identical association order as the Spark chain. Ends in
    * `lm_scores(doc_id, n_trigrams, n_unseen, avg_logprob)`.
    */
  private[graft] val LmScoreKn3Cte: String = {
    val d = s"($KnDiscountPermille / 1000.0)"
    val pcSql =
      s"""CAST(COALESCE(nc2.nctx2, 0) + 1 AS DOUBLE)
         |          / CAST(bt + v AS DOUBLE)""".stripMargin
    val p2Sql =
      s"""CASE WHEN COALESCE(m.nmid, 0) > 0
         |        THEN greatest(CAST(COALESCE(nc3.nctx3, 0) AS DOUBLE)
         |              - $d, 0)
         |            / CAST(m.nmid AS DOUBLE)
         |          + ((($d) * CAST(m.n1pmid AS DOUBLE))
         |              / CAST(m.nmid AS DOUBLE))
         |            * ($pcSql)
         |        ELSE $pcSql
         |      END""".stripMargin
    s"""toksall AS (
       |  SELECT doc_id,
       |    ${TextHashes.wordTokensSql("text")} AS t
       |  FROM documents
       |), ref AS (SELECT * FROM toksall WHERE doc_id % 2 = 0),
       |tgt AS (SELECT * FROM toksall WHERE doc_id % 2 = 1),
       |uni AS (
       |  SELECT w, count(*) AS c_a FROM
       |    (SELECT unnest(t) AS w FROM ref) GROUP BY w
       |), refbi AS (
       |  SELECT ab, count(*) AS c_ab FROM (
       |    SELECT unnest(list_transform(range(1, len(t)),
       |      i -> t[i] || ' ' || t[i+1])) AS ab
       |    FROM ref WHERE len(t) >= 2) GROUP BY ab
       |), reftri AS (
       |  SELECT abc, count(*) AS c_abc FROM (
       |    SELECT unnest(list_transform(range(1, len(t) - 1),
       |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS abc
       |    FROM ref WHERE len(t) >= 3) GROUP BY abc
       |), triparts AS (
       |  SELECT string_split(abc, ' ')[1] || ' ' ||
       |      string_split(abc, ' ')[2] AS ab,
       |    string_split(abc, ' ')[2] || ' ' ||
       |      string_split(abc, ' ')[3] AS bc,
       |    string_split(abc, ' ')[2] AS b
       |  FROM reftri
       |), n1p3 AS (
       |  SELECT ab, count(*) AS n1p3 FROM triparts GROUP BY ab
       |), nctx3 AS (
       |  SELECT bc, count(*) AS nctx3 FROM triparts GROUP BY bc
       |), mid AS (
       |  SELECT b, count(*) AS nmid, count(DISTINCT bc) AS n1pmid
       |  FROM triparts GROUP BY b
       |), nctx2 AS (
       |  SELECT string_split(ab, ' ')[2] AS c2, count(*) AS nctx2
       |  FROM refbi GROUP BY 1
       |), vv AS (
       |  SELECT CAST((SELECT count(*) FROM uni) AS BIGINT) AS v,
       |         CAST((SELECT count(*) FROM refbi) AS BIGINT) AS bt
       |), db AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS abc
       |  FROM tgt WHERE len(t) >= 3
       |), j AS (
       |  SELECT d.doc_id,
       |    string_split(d.abc, ' ')[1] || ' ' ||
       |      string_split(d.abc, ' ')[2] AS ab,
       |    string_split(d.abc, ' ')[2] || ' ' ||
       |      string_split(d.abc, ' ')[3] AS bc,
       |    string_split(d.abc, ' ')[2] AS b,
       |    string_split(d.abc, ' ')[3] AS c2, r.c_abc
       |  FROM db d LEFT JOIN reftri r USING (abc)
       |), terms AS (
       |  SELECT j.doc_id, j.c_abc,
       |    CAST(round(ln(
       |      CASE WHEN COALESCE(rb.c_ab, 0) > 0
       |          AND COALESCE(n3.n1p3, 0) > 0
       |        THEN greatest(CAST(COALESCE(j.c_abc, 0) AS DOUBLE)
       |              - $d, 0)
       |            / CAST(rb.c_ab AS DOUBLE)
       |          + ((($d) * CAST(n3.n1p3 AS DOUBLE))
       |              / CAST(rb.c_ab AS DOUBLE))
       |            * ($p2Sql)
       |        ELSE $p2Sql
       |      END), 6) AS DECIMAL(28,6)) AS term
       |  FROM j LEFT JOIN refbi rb ON j.ab = rb.ab
       |    LEFT JOIN n1p3 n3 ON j.ab = n3.ab
       |    LEFT JOIN nctx3 nc3 ON j.bc = nc3.bc
       |    LEFT JOIN mid m ON j.b = m.b
       |    LEFT JOIN nctx2 nc2 ON j.c2 = nc2.c2
       |    CROSS JOIN vv
       |), lm_scores AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       |    CAST(count(*) FILTER (WHERE c_abc IS NULL) AS BIGINT)
       |      AS n_unseen,
       |    round(CAST(sum(term) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
       |      AS avg_logprob
       |  FROM terms GROUP BY doc_id
       |)""".stripMargin
  }

  private[graft] val DailyCte =
    """daily0 AS (
      |  SELECT event_type AS g, epoch_ns(ts) // 1000000 // 86400000 AS day,
      |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2
      |), bounds AS (
      |  SELECT min(day) AS lo, max(day) AS hi FROM daily0
      |), days AS (
      |  SELECT unnest(range(lo, hi + 1)) AS day FROM bounds
      |), daily AS (
      |  SELECT s.g, d.day, COALESCE(c.cents, 0) AS x
      |  FROM (SELECT DISTINCT g FROM daily0) s
      |  CROSS JOIN days d
      |  LEFT JOIN daily0 c ON c.g = s.g AND c.day = d.day
      |)""".stripMargin

  // trigram-set CTE body over a (doc_id, text) relation — the q23/q25
  // oracle shape: whitespace tokens → distinct word 3-grams
  private def trigramSets(rel: String): String =
    s"""SELECT doc_id,
       |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
       |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
       |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
       |    END AS g
       |  FROM (SELECT doc_id,
       |      ${TextHashes.wordTokensSql("text")} AS t
       |    FROM $rel)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q245_burstiness" ->
      """WITH daily AS (
        |  SELECT user_id AS id, epoch_ns(ts) // 1000000 // 86400000
        |    AS day, count(*) AS c
        |  FROM events GROUP BY 1, 2
        |), spine AS (
        |  SELECT CAST(max(day) - min(day) + 1 AS HUGEINT) AS n
        |  FROM daily
        |), per AS (
        |  SELECT id, CAST(sum(c) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n_active_days,
        |    sum(CAST(c AS HUGEINT) * c) AS scc
        |  FROM daily GROUP BY id
        |)
        |SELECT id, s AS n_events, n_active_days,
        |  CAST(n * scc - CAST(s AS HUGEINT) * s AS DOUBLE)
        |    / CAST(n * CAST(s AS HUGEINT) AS DOUBLE) AS fano,
        |  (CAST(n * scc - CAST(s AS HUGEINT) * s AS DOUBLE)
        |    / CAST(n * CAST(s AS HUGEINT) AS DOUBLE)) > 2.0 AS bursty
        |FROM per CROSS JOIN spine WHERE s >= 5 ORDER BY id""".stripMargin,
    "q246_seasonal_anomaly" ->
      s"""WITH $DailyCte, wd AS (
         |  SELECT g, day, (day + 3) % 7 AS dow, x FROM daily
         |), mom AS (
         |  SELECT g, dow, CAST(count(*) AS BIGINT) AS nw,
         |    CAST(sum(x) AS BIGINT) AS sw,
         |    sum(CAST(x AS HUGEINT) * x) AS qw
         |  FROM wd GROUP BY g, dow
         |), scored AS (
         |  SELECT wd.g, wd.day, wd.dow, wd.x,
         |    round(CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE), 6)
         |      AS mean_w,
         |    CASE WHEN nw > 1
         |      AND CAST(CAST(nw AS HUGEINT) * qw
         |        - CAST(sw AS HUGEINT) * sw AS DOUBLE)
         |        / (CAST(nw AS DOUBLE) * CAST(nw AS DOUBLE)) > 0
         |    THEN round((CAST(wd.x AS DOUBLE)
         |      - CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE))
         |      / sqrt(CAST(CAST(nw AS HUGEINT) * qw
         |        - CAST(sw AS HUGEINT) * sw AS DOUBLE)
         |        / (CAST(nw AS DOUBLE) * CAST(nw AS DOUBLE))), 6) END
         |      AS z
         |  FROM wd JOIN mom ON mom.g = wd.g AND mom.dow = wd.dow
         |)
         |SELECT g AS event_type, day, dow, x, mean_w, z
         |FROM scored WHERE abs(z) > 1.5
         |ORDER BY event_type, day""".stripMargin,
    "q241_tcloseness" ->
      """WITH base AS (
        |  SELECT c_nationkey AS g, o_orderpriority AS sv
        |  FROM customer JOIN orders ON c_custkey = o_custkey
        |), cats AS (SELECT DISTINCT sv FROM base),
        |cls AS (SELECT g, CAST(count(*) AS BIGINT) AS n
        |  FROM base GROUP BY g),
        |pc AS (SELECT g, sv, count(*) AS c FROM base GROUP BY g, sv),
        |grid AS (
        |  SELECT cls.g, cls.n, cats.sv, COALESCE(pc.c, 0) AS c
        |  FROM cls CROSS JOIN cats
        |  LEFT JOIN pc ON pc.g = cls.g AND pc.sv = cats.sv
        |), gdist AS (SELECT sv, count(*) AS cq FROM base GROUP BY sv),
        |gtot AS (SELECT CAST(count(*) AS HUGEINT) AS nn,
        |  CAST(count(DISTINCT sv) AS BIGINT) AS m FROM base),
        |gridc AS (
        |  SELECT g, n, sv,
        |    CAST(sum(c) OVER (PARTITION BY g ORDER BY sv) AS BIGINT)
        |      AS cump
        |  FROM grid
        |), globc AS (
        |  SELECT sv, CAST(sum(cq) OVER (ORDER BY sv) AS BIGINT) AS cumq
        |  FROM gdist
        |), terms AS (
        |  SELECT g, n, m, nn,
        |    abs(CAST(cump AS HUGEINT) * nn - CAST(cumq AS HUGEINT) * n)
        |      AS d
        |  FROM gridc JOIN globc USING (sv) CROSS JOIN gtot
        |), agg AS (
        |  SELECT g, n, m, nn, sum(d) AS sd
        |  FROM terms GROUP BY g, n, m, nn
        |)
        |SELECT g, n,
        |  CASE WHEN m > 1 THEN CAST(sd AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT) * nn * (m - 1) AS DOUBLE) END
        |    AS emd,
        |  CASE WHEN m > 1 THEN (CAST(sd AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT) * nn * (m - 1) AS DOUBLE)) > 0.2
        |    END AS t_violation
        |FROM agg ORDER BY g""".stripMargin,
    "q242_cluster_purity" ->
      s"""WITH RECURSIVE ${PipelineEntry.NgramPairsCte},
         |edges AS (
         |  SELECT a AS x, b AS y FROM pairs WHERE jaccard >= 0.8
         |  UNION
         |  SELECT b, a FROM pairs WHERE jaccard >= 0.8
         |), nodes AS (SELECT DISTINCT x AS id FROM edges),
         |r(id, m) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.x, r.m FROM edges e JOIN r ON e.y = r.id
         |), comp AS (SELECT id, min(m) AS cl FROM r GROUP BY id),
         |lab AS (
         |  SELECT c.id, c.cl,
         |    CASE WHEN c.id >= 1000000 THEN 'clone' ELSE s.source END
         |      AS src
         |  FROM comp c JOIN documents s ON s.doc_id =
         |    CASE WHEN c.id >= 1000000 THEN c.id - 1000000 ELSE c.id END
         |), ps AS (SELECT cl, src, count(*) AS c FROM lab GROUP BY cl, src)
         |SELECT cl AS cluster_id, CAST(sum(c) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_sources,
         |  CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_share,
         |  count(*) > 1 AS cross_source
         |FROM ps GROUP BY cl ORDER BY cluster_id""".stripMargin,
    "q243_split_leakage" -> {
      import graft.ops.Sampling.mix30Sql
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents
         |  WHERE doc_id % 50 = 0
         |), cl AS (
         |  SELECT doc_id,
         |    min(doc_id) OVER (PARTITION BY text) AS cluster_id,
         |    count(*) OVER (PARTITION BY text) AS sz
         |  FROM corpus
         |), multi AS (SELECT doc_id, cluster_id FROM cl WHERE sz > 1),
         |naive AS (
         |  SELECT cluster_id, count(DISTINCT
         |    CASE WHEN (${mix30Sql("doc_id")}) % 10 < 8
         |      THEN 1 ELSE 0 END) AS ns
         |  FROM multi GROUP BY cluster_id
         |), byc AS (
         |  SELECT cluster_id, count(DISTINCT
         |    CASE WHEN (${mix30Sql("cluster_id")}) % 10 < 8
         |      THEN 1 ELSE 0 END) AS ns
         |  FROM multi GROUP BY cluster_id
         |)
         |SELECT method, n_clusters, n_crossing FROM (
         |  SELECT 'naive_by_doc' AS method,
         |    CAST(count(*) AS BIGINT) AS n_clusters,
         |    CAST(count(*) FILTER (WHERE ns > 1) AS BIGINT) AS n_crossing
         |  FROM naive
         |  UNION ALL
         |  SELECT 'by_cluster',
         |    CAST(count(*) AS BIGINT),
         |    CAST(count(*) FILTER (WHERE ns > 1) AS BIGINT)
         |  FROM byc
         |) ORDER BY method""".stripMargin
    },
    "q239_rank_transform" ->
      """WITH pv AS (
        |  SELECT CAST(l_quantity AS DOUBLE) AS v, count(*) AS cnt
        |  FROM lineitem GROUP BY 1
        |), c AS (
        |  SELECT v, CAST(cnt AS BIGINT) AS cnt,
        |    CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum
        |  FROM pv
        |), t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM pv)
        |SELECT v, cnt, cum,
        |  CAST(2 * cum - cnt AS DOUBLE) / CAST(2 * n AS DOUBLE)
        |    AS cdf_mid
        |FROM c CROSS JOIN t ORDER BY v""".stripMargin,
    "q240_type_infer" ->
      """WITH src AS (
        |  SELECT CAST(o_orderkey AS VARCHAR) AS int_col,
        |    CAST(o_orderkey AS VARCHAR) || '.5' AS float_col,
        |    strftime(o_orderdate, '%Y-%m-%d') AS date_col,
        |    CASE WHEN o_orderkey % 2 = 0 THEN 'true' ELSE 'false' END
        |      AS bool_col,
        |    CASE WHEN o_orderkey % 10 = 0 THEN 'n/a'
        |      ELSE CAST(o_orderkey AS VARCHAR) END AS mixed_col
        |  FROM orders
        |), base AS (
        |  SELECT 'int_col' AS cn, int_col AS v FROM src
        |  UNION ALL SELECT 'float_col', float_col FROM src
        |  UNION ALL SELECT 'date_col', date_col FROM src
        |  UNION ALL SELECT 'bool_col', bool_col FROM src
        |  UNION ALL SELECT 'mixed_col', mixed_col FROM src
        |), agg AS (
        |  SELECT cn,
        |    CAST(count(*) FILTER (WHERE v IS NOT NULL AND v <> '')
        |      AS BIGINT) AS n,
        |    CAST(count(*) FILTER (WHERE v IS NULL OR v = '')
        |      AS BIGINT) AS n_blank,
        |    CAST(count(*) FILTER (WHERE v IS NOT NULL AND v <> ''
        |      AND regexp_full_match(v, '[+-]?[0-9]+')) AS BIGINT)
        |      AS n_int,
        |    CAST(count(*) FILTER (WHERE v IS NOT NULL AND v <> ''
        |      AND regexp_full_match(v, '[+-]?[0-9]+\.[0-9]+'))
        |      AS BIGINT) AS n_float,
        |    CAST(count(*) FILTER (WHERE v IS NOT NULL AND v <> ''
        |      AND regexp_full_match(v,
        |        '[0-9]{4}-[0-9]{2}-[0-9]{2}')) AS BIGINT) AS n_date,
        |    CAST(count(*) FILTER (WHERE v IS NOT NULL AND v <> ''
        |      AND regexp_full_match(lower(v), '(true|false)'))
        |      AS BIGINT) AS n_bool
        |  FROM base GROUP BY cn
        |)
        |SELECT cn AS "column", n, n_blank,
        |  round(CAST(n_int AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS int_ratio,
        |  round(CAST(n_int + n_float AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS numeric_ratio,
        |  round(CAST(n_date AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS date_ratio,
        |  round(CAST(n_bool AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS bool_ratio,
        |  CASE WHEN n = 0 THEN 'unknown'
        |    WHEN n_int = n THEN 'bigint'
        |    WHEN n_int + n_float = n THEN 'double'
        |    WHEN n_date = n THEN 'date'
        |    WHEN n_bool = n THEN 'boolean'
        |    ELSE 'varchar' END AS inferred
        |FROM agg ORDER BY "column"""".stripMargin,
    "q234_lm_score" ->
      s"""WITH $LmScoreCte
         |SELECT doc_id, n_bigrams, n_unseen, avg_logprob
         |FROM lm_scores ORDER BY doc_id""".stripMargin,
    "q235_target_encoding" ->
      """WITH base AS (
        |  SELECT o_orderpriority AS cat,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS y
        |  FROM orders
        |), per AS (
        |  SELECT cat, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS sum_y
        |  FROM base GROUP BY cat
        |), g AS (
        |  SELECT CAST(sum(n) AS HUGEINT) AS nn,
        |    CAST(sum(sum_y) AS HUGEINT) AS ss
        |  FROM per
        |)
        |SELECT cat AS category, n, sum_y,
        |  round(CAST(CAST(sum_y AS HUGEINT) * nn + 10 * ss AS DOUBLE)
        |    / CAST(nn * CAST(n + 10 AS HUGEINT) AS DOUBLE), 6)
        |    AS encoding
        |FROM per CROSS JOIN g ORDER BY category""".stripMargin,
    "q236_feature_hash" ->
      s"""WITH w0 AS (
        |  SELECT unnest(${TextHashes.wordTokensSql("text")}) AS w
        |  FROM documents
        |), h AS (
        |  SELECT w, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, length(w) + 1),
        |      i -> CAST(ascii(substr(w, i, 1)) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) % 64 AS bucket
        |  FROM w0
        |)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_occurrences,
        |  CAST(count(DISTINCT w) AS BIGINT) AS n_distinct_tokens
        |FROM h GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q237_class_cap" -> {
      import graft.ops.Sampling.mix30Sql
      s"""WITH ev AS (
         |  SELECT event_type, event_id FROM events
         |), ranked AS (
         |  SELECT event_type, event_id,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY (${mix30Sql("event_id")}), event_id) AS rn
         |  FROM ev
         |), kept AS (SELECT * FROM ranked WHERE rn <= 500)
         |SELECT b.event_type, b.n_before, k.n_after, k.sum_kept_ids
         |FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS n_before
         |      FROM ev GROUP BY 1) b
         |JOIN (SELECT event_type, CAST(count(*) AS BIGINT) AS n_after,
         |      CAST(sum(event_id) AS BIGINT) AS sum_kept_ids
         |      FROM kept GROUP BY 1) k USING (event_type)
         |ORDER BY event_type""".stripMargin
    },
    "q233_containment" ->
      s"""WITH probes0 AS (
         |  SELECT doc_id + 2000000 AS doc_id,
         |    array_to_string(list_slice(string_split(text, ' '), 1,
         |      greatest(len(string_split(text, ' ')) // 2, 1)), ' ')
         |      || ' qx qy qz' AS text
         |  FROM documents WHERE doc_id % 10 = 0
         |), psets AS (
         |  ${trigramSets("probes0")}
         |), csets AS (
         |  ${trigramSets("documents")}
         |), j AS (
         |  SELECT c.doc_id AS corpus_id, p.doc_id AS probe_id,
         |    CAST(len(list_intersect(c.g, p.g)) AS BIGINT) AS n_shared,
         |    CAST(len(p.g) AS BIGINT) AS n_probe
         |  FROM csets c JOIN psets p
         |    ON len(list_intersect(c.g, p.g)) >= 3
         |)
         |SELECT corpus_id, probe_id, n_shared, n_probe,
         |  CAST(n_shared AS DOUBLE) / n_probe AS containment
         |FROM j WHERE n_shared * 100 >= n_probe * 70
         |ORDER BY corpus_id, probe_id""".stripMargin,
    "q231_readability" -> {
      import graft.text.Readability._
      s"""WITH c AS (
         |  SELECT doc_id,
         |    CAST(${wordsSql("text")} AS BIGINT) AS w,
         |    CAST(${sentencesSql("text")} AS BIGINT) AS s,
         |    CAST(${syllablesSql("text")} AS BIGINT) AS sy
         |  FROM documents
         |)
         |SELECT doc_id, w AS n_words, s AS n_sentences,
         |  sy AS n_syllables,
         |  CASE WHEN w > 0 THEN round(206.835
         |    - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
         |    - 84.6 * (CAST(sy AS DOUBLE) / CAST(w AS DOUBLE)), 6) END
         |    AS reading_ease,
         |  CASE WHEN w > 0 THEN round(
         |    0.39 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
         |    + 11.8 * (CAST(sy AS DOUBLE) / CAST(w AS DOUBLE))
         |    - 15.59, 6) END AS fk_grade
         |FROM c ORDER BY doc_id""".stripMargin
    },
    "q232_entropy_profile" ->
      """WITH base AS (
        |  SELECT 'o_orderkey' AS cn, CAST(o_orderkey AS VARCHAR) AS v
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', o_orderstatus FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', o_orderpriority FROM orders
        |), census AS (
        |  SELECT cn, v, count(*) AS c FROM base
        |  WHERE v IS NOT NULL GROUP BY cn, v
        |), nulls AS (
        |  SELECT cn, CAST(count(*) FILTER (WHERE v IS NULL) AS BIGINT)
        |    AS n_nulls
        |  FROM base GROUP BY cn
        |), per AS (
        |  SELECT cn, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS nd,
        |    sum(CAST(round(ln(CAST(c AS DOUBLE)) * c, 6)
        |      AS DECIMAL(28,6))) AS sl,
        |    CAST(max(c) AS BIGINT) AS mx
        |  FROM census GROUP BY cn
        |)
        |SELECT n0.cn AS "column", COALESCE(n, 0) AS n, n_nulls,
        |  COALESCE(nd, 0) AS n_distinct,
        |  CASE WHEN n > 0 THEN greatest(round(ln(CAST(n AS DOUBLE))
        |    - CAST(sl AS DOUBLE) / CAST(n AS DOUBLE), 9),
        |    CAST(0 AS DOUBLE)) END AS entropy_nats,
        |  CASE WHEN n > 0 THEN
        |    round(CAST(mx AS DOUBLE) / CAST(n AS DOUBLE), 9) END
        |    AS top_share,
        |  CASE WHEN COALESCE(nd, 0) <= 1 THEN 'constant'
        |    WHEN nd * 100 >= n * 95 THEN 'id_like'
        |    WHEN nd <= 64 THEN 'categorical'
        |    ELSE 'text_like' END AS class
        |FROM nulls n0 LEFT JOIN per USING (cn)
        |ORDER BY "column"""".stripMargin,
    "q229_ewma" ->
      s"""WITH RECURSIVE $DailyCte, idx AS (
         |  SELECT g, day, x,
         |    row_number() OVER (PARTITION BY g ORDER BY day) AS i
         |  FROM daily
         |), rec AS (
         |  SELECT g, day, x, i, x * 1000000 AS lvl FROM idx WHERE i = 1
         |  UNION ALL
         |  SELECT n.g, n.day, n.x, n.i,
         |    (r.lvl * 3 + n.x * 1000000 * 1) // 4
         |  FROM rec r JOIN idx n ON n.g = r.g AND n.i = r.i + 1
         |)
         |SELECT g AS event_type, day, CAST(lvl AS BIGINT) AS level_fp,
         |  round(CAST(lvl AS DOUBLE) / 1000000.0, 6) AS level
         |FROM rec ORDER BY event_type, day""".stripMargin,
    "q227_acf" ->
      s"""WITH $DailyCte, stats AS (
         |  SELECT g, CAST(count(*) AS HUGEINT) AS n,
         |    sum(CAST(x AS HUGEINT)) AS s,
         |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS ss
         |  FROM daily GROUP BY g
         |), lags AS (
         |  SELECT unnest(range(1, 8)) AS lag
         |), pairs AS (
         |  SELECT h.g, l.lag, count(*) AS n_pairs,
         |    sum(CAST(h.x AS HUGEINT) * CAST(t2.x AS HUGEINT)) AS sxy,
         |    sum(CAST(h.x AS HUGEINT)) AS sh,
         |    sum(CAST(t2.x AS HUGEINT)) AS st
         |  FROM daily h CROSS JOIN lags l
         |  JOIN daily t2 ON t2.g = h.g AND t2.day = h.day + l.lag
         |  GROUP BY h.g, l.lag
         |)
         |SELECT p.g AS event_type, CAST(lag AS BIGINT) AS lag,
         |  CAST(n_pairs AS BIGINT) AS n_pairs,
         |  CASE WHEN n * n * ss - n * s * s <> 0 THEN
         |    round(CAST(n * n * sxy - n * s * (sh + st)
         |        + (n - CAST(lag AS HUGEINT)) * s * s AS DOUBLE)
         |      / CAST(n * n * ss - n * s * s AS DOUBLE), 12) END AS r
         |FROM pairs p JOIN stats USING (g)
         |ORDER BY event_type, lag""".stripMargin,
    "q228_seasonality" ->
      s"""WITH $DailyCte, wd AS (
         |  SELECT g, (day + 3) % 7 AS dow, x FROM daily
         |), per AS (
         |  SELECT g, dow, CAST(count(*) AS BIGINT) AS n_days,
         |    sum(CAST(x AS HUGEINT)) AS sd
         |  FROM wd GROUP BY g, dow
         |), tot AS (
         |  SELECT g, CAST(count(*) AS HUGEINT) AS n,
         |    sum(CAST(x AS HUGEINT)) AS s
         |  FROM wd GROUP BY g
         |)
         |SELECT p.g AS event_type, CAST(dow AS BIGINT) AS dow, n_days,
         |  round(CAST(sd AS DOUBLE) / CAST(n_days AS DOUBLE), 6)
         |    AS mean_x,
         |  CASE WHEN s <> 0 THEN round(CAST(sd * n AS DOUBLE)
         |    / CAST(CAST(n_days AS HUGEINT) * s AS DOUBLE), 9) END
         |    AS seasonal_index
         |FROM per p JOIN tot USING (g)
         |ORDER BY event_type, dow""".stripMargin,
    "q225_ks_test" ->
      s"""WITH $CumCte, d AS (
         |  SELECT c.g, abs(cuma * n_b - cumb * n_a) AS num, v, n_a, n_b
         |  FROM cum c JOIN cnt USING (g)
         |), top AS (
         |  SELECT g, num, v, n_a, n_b,
         |    row_number() OVER (PARTITION BY g
         |      ORDER BY num DESC, v DESC) AS rn
         |  FROM d
         |)
         |SELECT g AS event_type, n_a, n_b,
         |  round(CAST(num AS DOUBLE)
         |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 12) AS d_stat,
         |  v AS at_value
         |FROM top WHERE rn = 1 ORDER BY event_type""".stripMargin,
    "q226_mann_whitney" ->
      s"""WITH $CumCte, $MwuZCte
         |SELECT g AS event_type, n_a, n_b, round(ua, 6) AS u_a,
         |  CASE WHEN varu > 0 THEN round(ctr / sqrt(varu), 6) END AS z,
         |  CASE WHEN varu > 0 THEN abs(ctr / sqrt(varu)) > 1.96 END
         |    AS significant
         |FROM v ORDER BY event_type""".stripMargin)

  /** Shared q226/q267 chain: doubled rank-sums → U, variance, and
    * the centered statistic per stratum (CTE `v`). Needs [[CumCte]]
    * in scope.
    */
  private[graft] lazy val MwuZCte =
    """agg AS (
      |  SELECT c.g, n_a, n_b,
      |    CAST(sum(ca * (2 * (cuma + cumb) - (ca + cb) + 1))
      |      AS BIGINT) AS r2a,
      |    CAST(sum((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb))
      |      AS BIGINT) AS tsum
      |  FROM cum c JOIN cnt USING (g)
      |  GROUP BY c.g, n_a, n_b
      |), closing AS (
      |  SELECT g, n_a, n_b,
      |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
      |    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS nd,
      |    (CAST(r2a AS DOUBLE) - CAST(n_a AS DOUBLE)
      |      * (CAST(n_a AS DOUBLE) + 1.0)) / 2.0 AS ua,
      |    CAST(tsum AS DOUBLE) AS td
      |  FROM agg
      |), v AS (
      |  SELECT g, n_a, n_b, ua,
      |    na * nb / 12.0 * ((nd + 1.0) - td / (nd * (nd - 1.0)))
      |      AS varu,
      |    (ua - na * nb / 2.0) AS ctr
      |  FROM closing
      |)""".stripMargin
}
