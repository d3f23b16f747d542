package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Funnel, GapFill}
import graft.sources.Tables.{load => t}

/** q95+: the analytics/cleaning tail — event funnels, time-series
  * gap fill, weighted sampling, text canonicalization, format
  * coverage, robust outliers. Same conventions as the earlier entry
  * objects: every query carries an exact DuckDB oracle; doubles are
  * decimal-summed and round-9'd; ranks break ties on ids.
  */
object AnalyticsEntry {

  // ---------------------------------------------------------------
  // q95 — ordered-step event funnel (signup → view → click →
  // purchase, 48h conversion window from the first signup): furthest
  // stage per user + total conversion span. ONE hash exchange on
  // user_id; the cascading first-qualifying-step columns share one
  // window sort.
  // ---------------------------------------------------------------
  private val FunnelHorizonUs = 48L * 3600 * 1000 * 1000
  private val FunnelSteps = Seq("signup", "view", "click", "purchase")

  private def q95(s: SparkSession, dir: String): DataFrame =
    Funnel.report(Funnel.stages(
      // MICROsecond ts on both sides: DuckDB reads the parquet
      // TIMESTAMP(NANOS) column at micros resolution (truncating),
      // so spans computed on raw nanos would differ sub-µs
      t(s, dir, "events").withColumn("ts_us", expr("ts div 1000")),
      "user_id", "ts_us",
      FunnelSteps.map(st => st -> (col("event_type") === st)),
      horizon = Some(FunnelHorizonUs), tiebreak = Seq("event_id")))

  // ---------------------------------------------------------------
  // q96 — time-series gap fill: regularize events onto the dense
  // (user × day) spine, daily decimal sums forward-filled per user
  // (LOCF). The daily reduction is the only data-sized shuffle; the
  // spine is metadata-sized and the fill window partitions by user.
  // ---------------------------------------------------------------
  private def q96(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    GapFill.dailyFill(ev, "user_id",
        // integer `div`, not `/`: long/long division is DOUBLE and a
        // ~1.7e18-ns timestamp has a 256-ns double ulp — an event
        // microseconds after midnight could land on the wrong day
        to_date(timestamp_micros(expr("ts div 1000"))),
        sum(col("value").cast("decimal(18,6)")).cast("double"))
      .select(col("user_id"),
        // DATE round-trips with different pandas dtypes per engine;
        // ISO string compares exactly
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_events"),
        round(col("day_val"), 9).as("day_val"),
        round(col("day_val_filled"), 9).as("filled_val"),
        col("is_gap"))
      .orderBy("user_id", "day")
  }

  // ---------------------------------------------------------------
  // q97 — weighted sampling without replacement (A-ES): 100 docs
  // drawn ∝ token count. The score is a pure scan-level expression
  // (no corpus shuffle); top-k plans as TakeOrdered.
  // ---------------------------------------------------------------
  private val SampleK = 100

  private def q97(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Sampling
    import graft.text.TextAnalysis
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("weight"))
      .withColumn("samp_key",
        Sampling.weightedSampleKey(col("doc_id"), col("weight")))
      .orderBy(col("samp_key").desc, col("doc_id"))
      .limit(SampleK)
  }

  // ---------------------------------------------------------------
  // q98 — Unicode canonicalization (NFC + accent fold): crawled text
  // mixes NFC/NFD encodings of the same glyphs, which silently
  // breaks hash dedup and term matching. Mixed-normalization input
  // is synthesized deterministically per doc (the corpus is ASCII);
  // the native codegen'd expressions normalize it per-row at the
  // scan. Oracle: DuckDB's own nfc_normalize / strip_accents.
  // ---------------------------------------------------------------
  private def q98(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.UnicodeFns
    val suffix = when(pmod(col("doc_id"), lit(3)) === 0,
        lit("cafe\u0301 nai\u0308ve")) // NFD: combining marks
      .when(pmod(col("doc_id"), lit(3)) === 1,
        lit("caf\u00e9 na\u00efve")) // NFC: precomposed
      .otherwise(lit("cafe naive")) // plain ASCII
    val raw = concat(substring(trim(col("text")), 1, 24), lit(" "), suffix)
    t(s, dir, "documents")
      .select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"),
        UnicodeFns.nfcNormalize(col("raw")).as("norm"),
        (UnicodeFns.nfcNormalize(col("raw")) =!= col("raw")).as("changed"),
        length(col("raw")).as("len_raw"))
      .select(col("doc_id"), col("changed"), col("len_raw"),
        length(col("norm")).as("len_norm"),
        substring(col("norm"), -12, 12).as("norm_tail"),
        substring(UnicodeFns.foldAccents(col("norm")), -12, 12)
          .as("folded_tail"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // q99 — WITHIN-document segment dedup (q81's shuffle-free sibling):
  // repeated 12-word windows inside one doc collapse to their first
  // occurrence; segments shared across docs survive. Pure per-row
  // array expression — zero exchanges beyond the output sort.
  // ---------------------------------------------------------------
  private def q99(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.SegmentDedup
    SegmentDedup.dedupSegmentsWithinDoc(
        t(s, dir, "documents").filter(length(trim(col("text"))) > 0),
        "doc_id", "text", words = 12)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // q100 — URL canonicalization + domain-level dedup: synthesized
  // case/port/tracking-param variants of the same logical URLs
  // collapse to one canonical form per (source-domain, lang, k).
  // The canonicalizer is a pure scan-level projection; the only
  // shuffle is the per-domain report aggregate.
  // ---------------------------------------------------------------
  private def q100(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Urls
    val k = pmod(col("doc_id"), lit(50)).cast("string")
    val url = concat(
      when(pmod(col("doc_id"), lit(2)) === 0,
        concat(lit("HTTPS://WWW."), col("source"), lit(".Example.COM:443")))
        .otherwise(concat(lit("https://"), col("source"), lit(".example.com"))),
      lit("/"), col("lang"), lit("/art-"), k,
      lit("?utm_source=feed&id="), k,
      when(pmod(col("doc_id"), lit(3)) === 0, lit("&ref=tw")).otherwise(lit("")),
      lit("#s"))
    t(s, dir, "documents")
      .select(col("doc_id"), url.as("url"))
      .select(Urls.domain(col("url")).as("domain"),
        Urls.canonicalize(col("url")).as("canon"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("canon")).as("n_canonical"),
        min(col("canon")).as("sample_url"))
      .orderBy("domain")
  }

  // ---------------------------------------------------------------
  // q101 — ORC format round-trip (format coverage beyond the
  // reference's csv/json/parquet): documents → ORC files → FileSource
  // read-back (same glob/credential path as every other format) →
  // per-lang aggregate. ORC shares parquet's pushdown/pruning
  // machinery in Spark, so the 100 TB story is unchanged.
  // ---------------------------------------------------------------
  private def q101(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.FileSource
    val base = s"target/scratch/q101_${Scratch.key(dir)}"
    t(s, dir, "documents").select("doc_id", "lang", "source", "n_chars")
      .write.mode("overwrite").orc(base)
    FileSource.read(s, "orc", base, Some("*.orc"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("sum_chars"))
      .orderBy("lang")
  }

  // ---------------------------------------------------------------
  // q102 — robust outlier detection (median/MAD, Hampel): flag
  // orders whose |price − median| > 3·1.4826·MAD. Median and MAD are
  // exact type-1 quantiles from the two-phase harness (driver
  // scalars); the flag itself is a scan-level predicate.
  // ---------------------------------------------------------------
  private def q102(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Outliers
    Outliers.flag(
        t(s, dir, "orders").select("o_orderpriority", "o_totalprice"),
        "o_totalprice")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        count(when(col("is_outlier"), 1)).as("n_outliers"),
        round(min("median"), 9).as("median"),
        round(min("mad"), 9).as("mad"))
      .orderBy("o_orderpriority")
  }

  // ---------------------------------------------------------------
  // q103 — per-GROUP exact percentiles (Profile.quantiles is global;
  // this is the grouped surface): Spark's sort-based `percentile`
  // aggregate, one shuffle, per-group cost bounded by group size.
  // DuckDB's quantile_cont uses the same (n−1)·p linear
  // interpolation, so values match to the round-9 gate.
  // ---------------------------------------------------------------
  private def q103(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        expr("percentile(o_totalprice, array(0.5D, 0.9D, 0.99D))").as("p"))
      .select(col("o_orderpriority"), col("n"),
        round(element_at(col("p"), 1), 9).as("p50"),
        round(element_at(col("p"), 2), 9).as("p90"),
        round(element_at(col("p"), 3), 9).as("p99"))
      .orderBy("o_orderpriority")

  // ---------------------------------------------------------------
  // q104 — record linkage (entity resolution): link a typo-perturbed
  // registry back to the clean catalog with multi-pass BLOCKING
  // (first word ∪ last word — a typo breaks at most one block) and
  // codegen'd levenshtein verify ≤ 2; best match per record = min
  // (distance, name). The blocked join bounds candidate pairs; the
  // corpus never cross-joins.
  // ---------------------------------------------------------------
  private def q104(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Linkage
    val parts = t(s, dir, "part")
    val dirty = parts.select(col("p_partkey").as("id"),
      when(pmod(col("p_partkey"), lit(5)) === 0,
        expr("substring(p_name, 1, length(p_name) - 2)")) // drop last 2 chars
        .when(pmod(col("p_partkey"), lit(5)) === 1,
          concat(col("p_name"), lit("x"))) // append
        .when(pmod(col("p_partkey"), lit(5)) === 2,
          concat(lit("z"), expr("substring(p_name, 2)"))) // first char typo
        .otherwise(col("p_name")).as("dname"))
    val clean = parts.select(col("p_name").as("name")).distinct()
    Linkage.bestMatch(dirty, clean, "id", "dname", "name", maxDist = 2)
      .groupBy("match_dist")
      .agg(count(lit(1)).as("n_records"))
      .orderBy("match_dist")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q95_event_funnel" -> (q95 _),
    "q96_gap_fill" -> (q96 _),
    "q97_weighted_sample" -> (q97 _),
    "q98_nfc_normalize" -> (q98 _),
    "q99_doc_segment_dedup" -> (q99 _),
    "q100_url_canonicalize" -> (q100 _),
    "q101_orc_roundtrip" -> (q101 _),
    "q102_robust_outliers" -> (q102 _),
    "q103_group_percentiles" -> (q103 _),
    "q104_record_linkage" -> (q104 _),
    "q105_embedding_scaler" -> (q105 _),
    "q106_stream_funnel" -> (q106 _),
    "q182_path_rollup" -> (q182 _))

  // ---------------------------------------------------------------
  // q182 — hierarchical URL-path rollup (text/PathRollup — the
  // "traffic by section" drill-down tree, the crawl-side view of
  // where a site's pages concentrate): every URL counts under EACH
  // of its path prefixes (/a/b/c → /a, /a/b, /a/b/c), one bounded
  // explode (≤ maxDepth) + one partial-aggregated (depth, prefix)
  // census — the distinct-prefix space is site-structure-sized.
  // Fixture builds 3-level paths /{lang}/cat-{k5}/art-{k50} from
  // documents; oracle restates extraction, slicing, and the census.
  // ---------------------------------------------------------------
  private def q182(s: SparkSession, dir: String): DataFrame = {
    import graft.text.PathRollup
    val url = concat(lit("https://"), col("source"), lit(".example.com/"),
      col("lang"), lit("/cat-"), pmod(col("doc_id"), lit(5)).cast("string"),
      lit("/art-"), pmod(col("doc_id"), lit(50)).cast("string"),
      lit("?utm=1#top"))
    PathRollup.rollup(t(s, dir, "documents").select(url.as("url")), "url")
      .orderBy("depth", "prefix")
  }

  // ---------------------------------------------------------------
  // q106 — STREAMING funnel (q95's incremental twin): the same
  // strict-order single-anchor semantics as mapGroupsWithState
  // custom state (|steps| longs per user, no event buffering).
  // Registered in batch mode (unified Dataset API — every group in
  // one call, empty state ⇒ semantics collapse to the batch
  // operator's), so the SAME DuckDB oracle gates it; the
  // MemoryStream side is spec-tested for cross-batch state carry.
  // ---------------------------------------------------------------
  private def q106(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.Streams
    import s.implicits._
    val stepCol = FunnelSteps.zipWithIndex.foldLeft(lit(-1)) {
      case (acc, (st, i)) =>
        when(col("event_type") === st, lit(i)).otherwise(acc)
    }
    // keep non-step events (step = -1): a user with ONLY such events
    // must still appear at stage 0, exactly as q95 and the oracle
    // count them
    val ev = t(s, dir, "events")
      .select(col("user_id"), expr("ts div 1000").as("ts"),
        col("event_id"), stepCol.as("step"))
      .as[Streams.FunnelEvent]
    Funnel.report(
      Streams.funnelStateful(ev, FunnelSteps.size,
        Some(FunnelHorizonUs))(s).toDF())
  }

  // ---------------------------------------------------------------
  // q105 — embedding standardization: fit per-dimension z-score
  // stats over the vector corpus in ONE decimal-exact pass (the
  // learned scaler IS the output — dim rows). transform() applies it
  // as a literal-array projection (spec'd; no shuffle).
  // ---------------------------------------------------------------
  private def q105(s: SparkSession, dir: String): DataFrame =
    graft.ann.Scaler.fit(t(s, dir, "embeddings"), "embedding")
      .select(col("pos"), col("n"),
        round(col("mean"), 9).as("mean"),
        round(col("var"), 9).as("var"),
        round(col("std"), 9).as("std"))
      .orderBy("pos")

  /** Shared window spec text for the funnel oracle's running mins. */
  private val FunnelWin =
    """OVER (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  /** Funnel oracle — shared by q95 (batch windows) and q106
    * (mapGroupsWithState): same semantics, same gate.
    */
  private lazy val FunnelOracle: String =
      s"""WITH e AS (
         |  SELECT user_id, epoch_us(ts) AS ts, event_type, event_id
         |  FROM events
         |), a AS (
         |  SELECT *, CASE WHEN event_type = 'signup' THEN ts END AS q0 FROM e
         |), b AS (
         |  SELECT *, min(q0) $FunnelWin AS r0 FROM a
         |), c AS (
         |  SELECT *, CASE WHEN event_type = 'view' AND r0 IS NOT NULL
         |    AND ts <= r0 + $FunnelHorizonUs THEN ts END AS q1 FROM b
         |), d AS (
         |  SELECT *, min(q1) $FunnelWin AS r1 FROM c
         |), f AS (
         |  SELECT *, CASE WHEN event_type = 'click' AND r1 IS NOT NULL
         |    AND ts <= r0 + $FunnelHorizonUs THEN ts END AS q2 FROM d
         |), g AS (
         |  SELECT *, min(q2) $FunnelWin AS r2 FROM f
         |), h AS (
         |  SELECT *, CASE WHEN event_type = 'purchase' AND r2 IS NOT NULL
         |    AND ts <= r0 + $FunnelHorizonUs THEN ts END AS q3 FROM g
         |), agg AS (
         |  SELECT user_id, min(q0) AS f0, min(q1) AS f1,
         |    min(q2) AS f2, min(q3) AS f3
         |  FROM h GROUP BY user_id
         |), st AS (
         |  SELECT CASE WHEN f3 IS NOT NULL THEN 4 WHEN f2 IS NOT NULL THEN 3
         |    WHEN f1 IS NOT NULL THEN 2 WHEN f0 IS NOT NULL THEN 1
         |    ELSE 0 END AS stage, f0, f3
         |  FROM agg
         |)
         |SELECT stage, count(*) AS n_keys,
         |  CAST(COALESCE(sum(f3 - f0), 0) AS BIGINT) AS total_span
         |FROM st GROUP BY stage ORDER BY stage""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q182_path_rollup" ->
      """WITH u AS (
        |  SELECT 'https://' || source || '.example.com/' || lang ||
        |    '/cat-' || CAST(doc_id % 5 AS VARCHAR) ||
        |    '/art-' || CAST(doc_id % 50 AS VARCHAR) || '?utm=1#top' AS url
        |  FROM documents
        |), p AS (
        |  SELECT list_filter(string_split(
        |      regexp_extract(lower(url),
        |        '^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/'),
        |    x -> x <> '') AS segs
        |  FROM u
        |), x AS (
        |  SELECT CAST(i AS INT) AS depth,
        |    '/' || array_to_string(segs[1:i], '/') AS prefix
        |  FROM p, UNNEST(generate_series(1, least(len(segs), 3))) AS g(i)
        |  WHERE len(segs) >= 1
        |)
        |SELECT depth, prefix, count(*) AS n_urls
        |FROM x GROUP BY 1, 2 ORDER BY depth, prefix""".stripMargin,
    "q95_event_funnel" -> FunnelOracle,
    "q106_stream_funnel" -> FunnelOracle,
    "q96_gap_fill" ->
      """WITH b AS (
        |  SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
        |  FROM events
        |), days AS (
        |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
        |    AS day
        |  FROM b
        |), daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2
        |), sp AS (
        |  SELECT u.user_id, d.day
        |  FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN days d
        |), j AS (
        |  SELECT sp.user_id, sp.day,
        |    CAST(COALESCE(daily.n, 0) AS BIGINT) AS n_events,
        |    daily.v AS day_val, daily.v IS NULL AS is_gap
        |  FROM sp LEFT JOIN daily USING (user_id, day)
        |)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day, n_events,
        |  round(day_val, 9) AS day_val,
        |  round(last_value(day_val IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 9) AS filled_val,
        |  is_gap
        |FROM j ORDER BY user_id, day""".stripMargin,
    "q97_weighted_sample" -> {
      import graft.ops.Sampling
      val wsTok =
        "(length(trim(text)) - length(replace(trim(text), ' ', '')) + 1)"
      s"""WITH d AS (
         |  SELECT doc_id, CAST($wsTok AS BIGINT) AS weight FROM documents
         |)
         |SELECT doc_id, weight,
         |  ${Sampling.weightedSampleKeySql("doc_id", "weight")} AS samp_key
         |FROM d ORDER BY samp_key DESC, doc_id LIMIT $SampleK""".stripMargin
    },
    "q98_nfc_normalize" ->
      """WITH raw AS (
        |  SELECT doc_id, substr(trim(text), 1, 24) || ' ' ||
        |    CASE doc_id % 3
        |      WHEN 0 THEN 'cafe' || chr(769) || ' nai' || chr(776) || 've'
        |      WHEN 1 THEN 'caf' || chr(233) || ' na' || chr(239) || 've'
        |      ELSE 'cafe naive' END AS r
        |  FROM documents
        |), n AS (
        |  SELECT doc_id, r, nfc_normalize(r) AS norm FROM raw
        |)
        |SELECT doc_id, norm <> r AS changed,
        |  CAST(length(r) AS INT) AS len_raw,
        |  CAST(length(norm) AS INT) AS len_norm,
        |  right(norm, 12) AS norm_tail,
        |  right(strip_accents(norm), 12) AS folded_tail
        |FROM n ORDER BY doc_id""".stripMargin,
    "q99_doc_segment_dedup" ->
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
        |    row_number() OVER (PARTITION BY doc_id, seg ORDER BY pos) AS rn
        |  FROM segs
        |)
        |SELECT doc_id, count(*) AS n_segs,
        |  CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
        |  COALESCE(string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE rn = 1),
        |    '') AS text_kept
        |FROM win GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q100_url_canonicalize" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0
        |      THEN 'HTTPS://WWW.' || source || '.Example.COM:443'
        |      ELSE 'https://' || source || '.example.com' END
        |    || '/' || lang || '/art-' || CAST(doc_id % 50 AS VARCHAR)
        |    || '?utm_source=feed&id=' || CAST(doc_id % 50 AS VARCHAR)
        |    || CASE WHEN doc_id % 3 = 0 THEN '&ref=tw' ELSE '' END
        |    || '#s' AS url
        |  FROM documents
        |), p AS (
        |  SELECT url,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        |      AS scheme,
        |    regexp_replace(lower(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)), '^www\.', '')
        |      AS host,
        |    regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*?:([0-9]+)', 1) AS port,
        |    regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
        |    regexp_extract(url, '\?([^#]*)', 1) AS q
        |  FROM u
        |), c AS (
        |  SELECT host AS domain,
        |    scheme || '://' || host ||
        |    CASE WHEN port = '' OR (scheme = 'https' AND port = '443')
        |      OR (scheme = 'http' AND port = '80')
        |      THEN '' ELSE ':' || port END ||
        |    CASE WHEN path = '' THEN '/' ELSE path END ||
        |    CASE WHEN len(keep) > 0
        |      THEN '?' || array_to_string(keep, '&') ELSE '' END AS canon
        |  FROM (SELECT *, list_filter(string_split(q, '&'),
        |      x -> NOT (substr(x, 1, 4) = 'utm_' OR x LIKE 'ref=%'
        |        OR x LIKE 'fbclid=%' OR x LIKE 'gclid=%' OR x = '')) AS keep
        |    FROM p)
        |)
        |SELECT domain, count(*) AS n_urls,
        |  count(DISTINCT canon) AS n_canonical,
        |  min(canon) AS sample_url
        |FROM c GROUP BY domain ORDER BY domain""".stripMargin,
    "q101_orc_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q102_robust_outliers" ->
      """WITH m AS (
        |  SELECT quantile_disc(o_totalprice, 0.5) AS med FROM orders
        |), d AS (
        |  SELECT o_orderpriority, abs(o_totalprice - m.med) AS ad, m.med
        |  FROM orders, m
        |), md AS (
        |  SELECT quantile_disc(ad, 0.5) AS mad FROM d
        |)
        |SELECT o_orderpriority, count(*) AS n,
        |  CAST(count(*) FILTER (WHERE ad >
        |    CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * mad)
        |    AS BIGINT) AS n_outliers,
        |  round(min(med), 9) AS median, round(min(mad), 9) AS mad
        |FROM d, md GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q103_group_percentiles" ->
      """SELECT o_orderpriority, n,
        |  round(qc[1], 9) AS p50, round(qc[2], 9) AS p90,
        |  round(qc[3], 9) AS p99
        |FROM (
        |  SELECT o_orderpriority, count(*) AS n,
        |    quantile_cont(o_totalprice, [0.5, 0.9, 0.99]) AS qc
        |  FROM orders GROUP BY 1)
        |ORDER BY o_orderpriority""".stripMargin,
    "q104_record_linkage" ->
      """WITH dirty AS (
        |  SELECT p_partkey AS id,
        |    CASE p_partkey % 5
        |      WHEN 0 THEN substr(p_name, 1, length(p_name) - 2)
        |      WHEN 1 THEN p_name || 'x'
        |      WHEN 2 THEN 'z' || substr(p_name, 2)
        |      ELSE p_name END AS dname
        |  FROM part
        |), clean AS (
        |  SELECT DISTINCT p_name AS name FROM part
        |), db AS (
        |  SELECT id, dname, string_split(dname, ' ')[1] AS b1,
        |    string_split(dname, ' ')[-1] AS b2
        |  FROM dirty
        |), cb AS (
        |  SELECT name, string_split(name, ' ')[1] AS b1,
        |    string_split(name, ' ')[-1] AS b2
        |  FROM clean
        |), cand AS (
        |  SELECT DISTINCT id, dname, name FROM (
        |    SELECT id, dname, name FROM db JOIN cb USING (b1)
        |    UNION ALL
        |    SELECT id, dname, name FROM db JOIN cb USING (b2))
        |), scored AS (
        |  SELECT id, levenshtein(dname, name) AS dist, name
        |  FROM cand WHERE levenshtein(dname, name) <= 2
        |), best AS (
        |  SELECT id, dist FROM (
        |    SELECT id, dist,
        |      row_number() OVER (PARTITION BY id ORDER BY dist, name) AS rn
        |    FROM scored)
        |  WHERE rn = 1
        |)
        |SELECT match_dist, count(*) AS n_records FROM (
        |  SELECT CAST(COALESCE(b.dist, -1) AS INT) AS match_dist
        |  FROM dirty d LEFT JOIN best b USING (id))
        |GROUP BY match_dist ORDER BY match_dist""".stripMargin,
    "q105_embedding_scaler" ->
      """WITH e AS (
        |  SELECT unnest(range(len(embedding))) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings
        |), a AS (
        |  SELECT pos, count(*) AS n,
        |    sum(CAST(v AS DECIMAL(28,12))) AS s,
        |    sum(CAST(v * v AS DECIMAL(28,12))) AS sq
        |  FROM e GROUP BY pos
        |)
        |SELECT CAST(pos AS INT) AS pos, n,
        |  round(CAST(s AS DOUBLE) / n, 9) AS mean,
        |  round(greatest((CAST(sq AS DOUBLE)
        |    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n,
        |    CAST(0 AS DOUBLE)), 9) AS var,
        |  round(sqrt(greatest((CAST(sq AS DOUBLE)
        |    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n,
        |    CAST(0 AS DOUBLE))), 9) AS std
        |FROM a ORDER BY pos""".stripMargin)
}
