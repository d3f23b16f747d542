package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextHashes
import graft.ops.StagedSwap
import graft.sources.Tables
import graft.sources.Tables.{load => t}

/** q113+: the training-data tail — leakage-safe splits, mergeable
  * sketch profiling, embedding quantization, HTML main-text
  * extraction, time travel in both shapes (SCD2 as-of reads,
  * versioned-table commits), crawl hygiene (per-domain contribution
  * caps, domain blocklists), BPE tokenizer training + encoding,
  * perceptual image near-dup, right-to-be-forgotten propagation,
  * and a distributed k-means Lloyd step. Same conventions as the
  * earlier entry objects: exact DuckDB oracles where the math is
  * portable, contract gates where the operator is inherently
  * randomized.
  */
object TrainEntry {

  // ---------------------------------------------------------------
  // q113 — leakage-safe train/val/test split: exact copies are
  // injected (ids + 1e6), then split assignment keys on the dup
  // CLUSTER representative, so a copy always lands in its original's
  // split. The in-query require is the operator's invariant (no
  // cluster straddles splits); the gated output is the per-split
  // census, which the oracle recomputes by grouping on text itself —
  // graft's (xxhash64, length) cluster key never ships bodies, but
  // must elect the same representatives.
  // ---------------------------------------------------------------
  private def q113(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Split
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val copies = docs.filter(col("doc_id") % 20 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val assigned = Split.byCluster(docs.unionAll(copies), "doc_id", "text")
    val leaks = assigned.groupBy("cluster_rep")
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1).count()
    require(leaks == 0, s"$leaks duplicate clusters straddle splits")
    assigned.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_rep")).as("n_clusters"),
        sum(col("doc_id")).as("sum_ids"))
      .orderBy("split")
  }

  // ---------------------------------------------------------------
  // q114 — mergeable quantile sketches (KLL): per-group partial
  // sketches are built in one pass, then RE-AGGREGATED by merging the
  // sketch bytes (never re-reading rows) — the shape that lets 100 TB
  // profiling run as "merge yesterday's sketches with today's". The
  // gate is the sketch's own contract, checked against exact ranks
  // computed from the data: the true rank interval of each extracted
  // quantile [#<q̂, #≤q̂]/n must intersect p ± 2ε (interval form
  // because l_quantity/l_discount are heavy discrete atoms whose
  // inclusive rank legitimately overshoots p). Oracle = VALUES
  // literal, like the other randomized-sketch contracts (q45 HLL).
  // ---------------------------------------------------------------
  private def q114(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.SketchAgg
    import s.implicits._
    val li = t(s, dir, "lineitem")
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val probs = Seq(0.1, 0.5, 0.9, 0.99)

    // phase 1: per-group partial sketches (the persistable artifact)
    val perFlag = li.groupBy("l_returnflag").agg(
      SketchAgg.kllSketch(col(cols.head)).as(s"sk_${cols.head}"),
      cols.tail.map(c => SketchAgg.kllSketch(col(c)).as(s"sk_$c")): _*)
    // phase 2: merge the sketches — no row is touched again
    val merged = perFlag.agg(
      SketchAgg.kllMerge(col(s"sk_${cols.head}")).as(cols.head),
      cols.tail.map(c => SketchAgg.kllMerge(col(s"sk_$c")).as(c)): _*)
    val qRow = merged.select(
      cols.map(c => SketchAgg.kllQuantiles(col(c), probs).as(c)): _*).head()
    val approx: Map[String, Seq[Double]] =
      cols.map(c => c -> qRow.getSeq[Double](qRow.fieldIndex(c))).toMap

    // exact rank interval of each estimate: one count-if pass
    val rankAggs = for { c <- cols; (_, i) <- probs.zipWithIndex; strict <- Seq(true, false) }
      yield (count(when(if (strict) col(c) < approx(c)(i)
          else col(c) <= approx(c)(i), 1)) / count(lit(1)))
        .as(s"${c}_${i}_$strict")
    val r = li.agg(rankAggs.head, rankAggs.tail: _*).head()
    val eps = 2 * SketchAgg.rankError()
    val checks = for { c <- cols; (p, i) <- probs.zipWithIndex } yield {
      val lo = r.getDouble(r.fieldIndex(s"${c}_${i}_true"))
      val hi = r.getDouble(r.fieldIndex(s"${c}_${i}_false"))
      (c, p, lo <= p + eps && hi >= p - eps)
    }
    checks.toDF("column_name", "p", "within_bound")
      .orderBy("column_name", "p")
  }

  // ---------------------------------------------------------------
  // q115 — int8 embedding quantization (the index-size lever for
  // retrieval at 100 TB: 4× smaller than float32, training-free,
  // per-vector): codes, per-vector scale, and their census are a pure
  // projection — zero exchanges — and use only engine-portable
  // arithmetic (floor-based rounding), so DuckDB recomputes the
  // EXACT same codes from the same parquet floats.
  // ---------------------------------------------------------------
  private def q115(s: SparkSession, dir: String): DataFrame = {
    import graft.ann.Quantize
    val q = Quantize.corpus(t(s, dir, "embeddings"), "embedding")
    q.select(col("vec_id"),
        size(col("codes")).cast("long").as("n_dims"),
        aggregate(col("codes"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        array_min(col("codes")).cast("long").as("q_min"),
        array_max(col("codes")).cast("long").as("q_max"),
        floor(col("scale") * 1e6).cast("long").as("scale_u"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------
  // q116 — HTML main-text extraction (the first step of every
  // web-crawl training pipeline): deterministic HTML pages are
  // synthesized around each document's text (fixture-style, like
  // q33's media containers — the corpus ships no HTML), exercising
  // every branch of the extractor: machinery blocks (style/script
  // with inner `<`), uppercase tags, multi-line blocks, comments,
  // chrome (nav/footer/aside), an UNCLOSED trailing <aside> whose
  // inner text must survive (markup-strip, not DOM-swallow), the
  // entity decode order (&amp;lt; must yield literal "&lt;", never
  // "<"), and a non-listed entity (&copy;) passing through. The
  // whole extraction is one codegen'd projection — zero exchanges
  // (spec-pinned) — and the oracle runs the IDENTICAL chain via
  // HtmlExtract.mainTextSql, generated from the same tag/entity
  // lists so the two engines cannot drift.
  // ---------------------------------------------------------------
  private[graft] val HtmlA = "<HTML><head><title>Doc "
  private[graft] val HtmlB = "</title>\n<style type=\"text/css\">p { margin: 0; }\n" +
    ".x { color: #fff; }</style>\n<SCRIPT src=\"app.js\">var i = 1; if (i < 2) { i = 3; }\n" +
    "render();</SCRIPT></head>\n<body>\n" +
    "<NAV class=\"top\"><a href=\"/\">Home</a> | <a href=\"/about\">About</a></NAV>\n" +
    "<!-- crawl\nboilerplate -->\n<h1>Entry "
  private[graft] val HtmlC = "</h1>\n<p>marker &amp;lt; stays &nbsp;&quot;quoted&quot; " +
    "&#39;tick&#39; &lt;em&gt; &amp; &copy; kept</p>\n<p>"
  private[graft] val HtmlD = "</p>\n<footer>&copy; 2026 graft</footer>\n" +
    "<ASIDE id=\"ads\">sponsored listing</ASIDE>\n<aside>tail promo"

  private[graft] def syntheticHtml(id: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit(HtmlA), id, lit(HtmlB), id, lit(HtmlC), text, lit(HtmlD))

  private def q116(s: SparkSession, dir: String): DataFrame = {
    import graft.text.HtmlExtract
    val docs = t(s, dir, "documents").select("doc_id", "text")
    docs.select(col("doc_id"),
        HtmlExtract.mainText(syntheticHtml(col("doc_id"), col("text")))
          .as("main_text"))
      .withColumn("n_chars", length(col("main_text")).cast("long"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // q117 — snapshot time travel: the SCD2 history built by three
  // successive timestamp-strategy snapshot applications (cuts at
  // 1996-01-01, 1997-01-01, full) is read AS OF 1997-06-01 — a date
  // BETWEEN history versions, so the answer mixes all three cases:
  // keys whose mid-1997 version is already open, keys still on an
  // older closed version (their next change came after the as-of
  // point), and keys absent because they first appear later. asOf is
  // a pure scan predicate over the history — no shuffle — so time
  // travel at 100 TB costs one pruned scan. The oracle rebuilds the
  // same version chain in SQL (per-cut latest state → strictly-newer
  // dedup → lead() for valid_to) and applies the same interval
  // filter.
  // ---------------------------------------------------------------
  private def q117(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Snapshot
    import org.apache.spark.sql.expressions.Window
    val orders = t(s, dir, "orders")
    def state(df: DataFrame): DataFrame = {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("o_custkey").as("k"), col("o_orderdate").as("u"),
          col("o_totalprice").as("price"))
    }
    def cut(d: String) = orders.filter(col("o_orderdate") < lit(d).cast("timestamp"))
    val h1 = Snapshot.timestamp(None, state(cut("1996-01-01")), Seq("k"), "u")
    val h2 = Snapshot.timestamp(Some(h1), state(cut("1997-01-01")), Seq("k"), "u")
    val h3 = Snapshot.timestamp(Some(h2), state(orders), Seq("k"), "u")
    Snapshot.asOf(h3, lit("1997-06-01").cast("timestamp"))
      .select(col("k"),
        unix_millis(col(Snapshot.ValidFrom).cast("timestamp")).as("valid_from_ms"),
        unix_millis(col(Snapshot.ValidTo).cast("timestamp")).as("valid_to_ms"),
        col("price"))
      .orderBy("k")
  }

  // ---------------------------------------------------------------
  // q118 — versioned-table time travel (VERSION AS OF / TIMESTAMP AS
  // OF): three commits of an orders census (pre-1996 cut, pre-1997
  // cut, full) at explicit commit times 100/200/300, then three
  // reads: VERSION AS OF 1, TIMESTAMP AS OF 250 (between commits →
  // resolves to v1 too), TIMESTAMP AS OF 1000 (→ latest). A commit
  // is data-dir-first + atomic manifest rename; reads resolve through
  // the log only. The table is rebuilt fresh each run (fixture), so
  // the oracle can restate each leg's census straight from orders.
  // ---------------------------------------------------------------
  private def q118(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.VersionedTable
    val path = Scratch.fresh(s, "q118", dir)

    val orders = t(s, dir, "orders")
    def census(df: DataFrame): DataFrame =
      df.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
    def cut(d: String) = orders.filter(col("o_orderdate") < lit(d).cast("timestamp"))
    VersionedTable.commit(s, path, census(cut("1996-01-01")), committedAtMs = 100L)
    VersionedTable.commit(s, path, census(cut("1997-01-01")), committedAtMs = 200L)
    VersionedTable.commit(s, path, census(orders), committedAtMs = 300L)

    val legs = Seq(
      ("version_1", VersionedTable.read(s, path, 1L)),
      ("asof_250", VersionedTable.readAsOf(s, path, 250L)),
      ("asof_1000", VersionedTable.readAsOf(s, path, 1000L)))
    legs.map { case (tag, df) => df.withColumn("leg", lit(tag)) }
      .reduce(_ unionByName _)
      .select("leg", "o_orderpriority", "n_orders", "sum_price")
      .orderBy("leg", "o_orderpriority")
  }

  // ---------------------------------------------------------------
  // q119 — REST ingestion, offset/limit pagination (q73's sibling;
  // the third dlt paginator shape): a localhost fixture API serves
  // the supplier table as bearer-auth'd JSON slices addressed by
  // offset+limit; RestSource.readOffset probes the total once, then
  // each executor slot fetches its own offset range in parallel —
  // the same fan-out scale story as page-number, unlike the serial
  // cursor chain. Limit 13 does not divide 100 rows, so the last
  // slice is a short tail — a dropped or doubled slice breaks the
  // oracle (the table itself).
  // ---------------------------------------------------------------
  private def q119(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.RestSource
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
    val src = t(s, dir, "supplier")
      .select("s_suppkey", "s_name", "s_nationkey")
      .orderBy("s_suppkey").collect() // 100-row dim: the "remote" dataset
    def item(r: org.apache.spark.sql.Row) =
      s"""{"s_suppkey":${r.getLong(0)},"s_name":"${r.getString(1)}",""" +
        s""""s_nationkey":${r.getInt(2)}}"""
    val token = "Bearer graft-offset-token"
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/supplier", { exchange =>
      val ok = Option(exchange.getRequestHeaders.getFirst("Authorization"))
        .contains(token)
      val body =
        if (!ok) """{"error":"unauthorized"}"""
        else {
          val q = Option(exchange.getRequestURI.getQuery).getOrElse("")
          val params = q.split("&").collect {
            case kv if kv.contains("=") =>
              val Array(k, v) = kv.split("=", 2); k -> v
          }.toMap
          val off = params.get("offset").map(_.toInt).getOrElse(0)
          val lim = params.get("limit").map(_.toInt).getOrElse(10)
          val items = src.slice(off, off + lim)
          s"""{"total":${src.length},"items":[${items.map(item).mkString(",")}]}"""
        }
      val bytes = body.getBytes("UTF-8")
      exchange.sendResponseHeaders(if (ok) 200 else 401, bytes.length.toLong)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.start()
    try {
      val schema = StructType(Seq(
        StructField("s_suppkey", LongType),
        StructField("s_name", StringType),
        StructField("s_nationkey", IntegerType)))
      // materialize while the fixture server is still up — consumers
      // evaluate after this function returns (and stops it)
      graft.plans.Plans.materialize(RestSource.readOffset(s,
          s"http://127.0.0.1:${server.getAddress.getPort}/supplier",
          schema,
          RestSource.OffsetConfig(limit = 13,
            headers = Map("Authorization" -> token)))
        .orderBy("s_suppkey"))
    } finally server.stop(0)
  }

  // ---------------------------------------------------------------
  // q120 — NEAR-dup-aware leakage-safe split (q113 covers exact
  // copies only; this closes the near-dup leak FineWeb-style
  // pipelines actually face): ngram-Jaccard pairs → connected
  // components (Dedup.clusters) → every doc keyed by its component
  // representative (singletons by themselves) → Split
  // .byRepresentative assigns train/val/test per component, so a
  // near-copy can never land opposite its original. The in-query
  // gate counts detected near-dup PAIRS whose endpoints straddle
  // splits (must be 0); the gated output is the per-split census,
  // which the oracle recomputes with the exact-Jaccard pair CTE +
  // recursive components + the same rep-keyed assignment.
  // ---------------------------------------------------------------
  private def q120(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    import graft.ops.Split
    val docs = PipelineEntry.nearCorpus(s, dir)
    // barrier ONCE: both consumers (cluster resolution and the
    // straddle gate below) would otherwise re-execute the whole
    // shingle/prefix-filter/verify pair pipeline — the dominant cost
    val pairs = graft.plans.Plans.barrier(
      Dedup.ngramJaccard(docs, "doc_id", "text", n = 4, tau = 0.8))
    val cl = Dedup.clusters(pairs) // (doc_id, cluster_id), paired docs only
    val assigned = Split.byRepresentative(
      docs.join(cl, Seq("doc_id"), "left")
        .withColumn("rep", coalesce(col("cluster_id"), col("doc_id"))),
      "rep")
    val bySplit = assigned.select("doc_id", "rep", "split")
    val straddling = pairs
      .join(bySplit.select(col("doc_id").as("a"), col("split").as("sa")), "a")
      .join(bySplit.select(col("doc_id").as("b"), col("split").as("sb")), "b")
      .filter(col("sa") =!= col("sb")).count()
    require(straddling == 0, s"$straddling near-dup pairs straddle splits")
    bySplit.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("rep")).as("n_clusters"),
        sum(col("doc_id")).as("sum_ids"))
      .orderBy("split")
  }

  // ---------------------------------------------------------------
  // q121 — the END-TO-END crawl pipeline in one query (the story the
  // operators above are parts of): crawl corpus (every page rendered
  // as HTML, every 20th page re-crawled under a new crawl id — SAME
  // bytes, different id) → main-text extraction → token-count
  // quality gate (≥ 50 extracted tokens; cuts the short tail, the
  // gate is real) → exact dedup on extracted text (min-id election
  // over (xxhash64, length) — 8-byte shuffle keys, re-crawls
  // collapse to their original) → shard assignment (id mod 8) →
  // per-shard census. Every stage is the scale shape its standalone
  // operator ships: one codegen'd projection for extract+tokens, one
  // scan predicate for the gate, one hash exchange for the election,
  // zero for sharding. The oracle restates the WHOLE pipeline in SQL
  // (html build ∪ re-crawls → mainTextSql → same gate → window
  // election on text → same census).
  // ---------------------------------------------------------------
  private def q121(s: SparkSession, dir: String): DataFrame = {
    import graft.text.HtmlExtract
    import org.apache.spark.sql.expressions.Window
    val pages = t(s, dir, "documents").select("doc_id", "text")
      .withColumn("html", syntheticHtml(col("doc_id"), col("text")))
      .select("doc_id", "html")
    val crawl = pages.unionByName(
      pages.filter(col("doc_id") % 20 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    val extracted = crawl
      .withColumn("t", HtmlExtract.mainText(col("html")))
      .withColumn("toks", (length(trim(col("t")))
        - length(replace(trim(col("t")), lit(" "), lit(""))) + 1).cast("long"))
      .select("doc_id", "t", "toks")
    val gated = extracted.filter(col("toks") >= 50)
    // content dedup via min-struct groupBy (r15, guide §2.3): the
    // r14 shape ran a window over (xxhash64(t), length(t)) with the
    // FULL extracted text riding the exchange just to pick min
    // doc_id per content group — but nothing downstream reads `t`.
    // doc_id is unique, so min(struct(doc_id, toks)) IS the winner
    // row; only (hash, len, id, toks) shuffle, partial-aggregated
    // map-side, and the window sort disappears.
    val deduped = gated
      .groupBy(xxhash64(col("t")).as("h"), length(col("t")).as("l"))
      .agg(min(struct(col("doc_id"), col("toks"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.toks").as("toks"))
    deduped.groupBy(pmod(col("doc_id"), lit(8L)).as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_ids"),
        sum(col("toks")).as("sum_tokens"))
      .orderBy("shard")
  }

  // ---------------------------------------------------------------
  // q122 — CDC between TABLE VERSIONS (Delta's table_changes() /
  // CDF read, composed from q118's VersionedTable + q85's Cdc.diff):
  // two commits of a monthly orders census over a SLIDING window —
  // v0 covers [-∞, 1996-12-15), v1 covers [1996-06-01, ∞) — then
  // diff(v0, v1) keyed on month yields all three change kinds:
  // months that slid out of retention (delete), the half-covered
  // boundary month (update: partial vs full December), months that
  // arrived after the first commit (insert); fully-covered months
  // are identical and drop out map-side. One full-outer hash join on
  // the key — output ∝ changes, not table size.
  // ---------------------------------------------------------------
  private def q122(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Cdc, VersionedTable}
    val path = Scratch.fresh(s, "q122", dir)

    val orders = t(s, dir, "orders")
    def census(df: DataFrame): DataFrame =
      df.groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
    VersionedTable.commit(s, path,
      census(orders.filter(col("o_orderdate") < lit("1996-12-15").cast("timestamp"))),
      committedAtMs = 100L)
    VersionedTable.commit(s, path,
      census(orders.filter(col("o_orderdate") >= lit("1996-06-01").cast("timestamp"))),
      committedAtMs = 200L)
    Cdc.diff(
        VersionedTable.read(s, path, 0L),
        VersionedTable.read(s, path, 1L),
        uniqueKey = Seq("month"),
        compareCols = Seq("n_orders", "sum_price"))
      .orderBy("month")
  }

  // ---------------------------------------------------------------
  // q123 — mergeable heavy-hitters sketch (Misra-Gries via the
  // DataSketches frequent-items sketch; q42's exact top-ngrams is
  // the rescan path, this is the one-pass bounded-memory artifact
  // path): per-SOURCE partial sketches over exploded tokens — 20
  // persistable byte blobs — are re-aggregated by MERGING BYTES
  // (freqMerge never revisits a token), then top-10 extracted with
  // a deterministic (estimate desc, token asc) tiebreak. On this
  // corpus the vocabulary (31) is under the purge threshold, so the
  // sketch is EXACT (maximumError 0) and the DuckDB oracle is the
  // true token count top-10; the spec stresses the purge/error path
  // with a synthetic skew the oracle can't.
  // ---------------------------------------------------------------
  private def q123(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.FreqSketchAgg
    val toks = t(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    // phase 1: per-source partial sketches (the persistable artifact)
    val partials = toks.groupBy("source")
      .agg(FreqSketchAgg.freqSketch(col("tok")).as("sk"))
    // phase 2: merge the sketches — no token is touched again
    val merged = partials.agg(FreqSketchAgg.freqMerge(col("sk")).as("sk"))
    merged.select(explode(FreqSketchAgg.freqTopK(col("sk"), 10)).as("r"))
      .select(col("r.item").as("token"), col("r.estimate").as("est"))
      .orderBy(col("est").desc, col("token"))
  }

  // ---------------------------------------------------------------
  // q124 — distinct-count SET ALGEBRA via theta sketches (the
  // audience/novelty questions HLL q45 cannot answer): per-segment
  // sketches of user_id built in ONE scan of events (persistable
  // byte blobs), then every overlap question is pure sketch algebra —
  // intersection (clicked AND purchased), difference (clicked but
  // never purchased), union across all segments (via the
  // theta_union re-aggregation path — bytes only). Below 2^lgK
  // retained the sketch is EXACT, so the DuckDB oracle restates the
  // same sets with INTERSECT/EXCEPT/COUNT DISTINCT; the spec
  // stresses the estimation regime with cardinalities past 2^lgK.
  // ---------------------------------------------------------------
  private def q124(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ThetaAgg
    val ev = t(s, dir, "events")
    val partials = ev.groupBy("event_type")
      .agg(ThetaAgg.thetaSketch(col("user_id")).as("sk"))
    // a missing event type would silently yield a null-estimate row
    // the oracle doesn't have — fail loudly instead (fixture contract)
    def skOf(tpe: String) = {
      val sk = first(when(col("event_type") === tpe, col("sk")),
        ignoreNulls = true)
      when(sk.isNull, raise_error(
        lit(s"q124: event type '$tpe' missing from events fixture")))
        .otherwise(sk)
    }
    val one = partials.agg(
      skOf("click").as("click"), skOf("purchase").as("purchase"),
      skOf("signup").as("signup"), skOf("view").as("view"),
      skOf("error").as("error"))
    // union across ALL segments through the byte-merge aggregate —
    // the "combine yesterday's shard sketches" path
    val anyEv = partials.agg(ThetaAgg.thetaUnion(col("sk")).as("all_sk"))
    def seg(name: String, est: org.apache.spark.sql.Column) =
      struct(lit(name).as("segment"), est.as("n_users"))
    one.crossJoin(anyEv).select(explode(array(
        seg("click", theta_sketch_estimate(col("click"))),
        seg("purchase", theta_sketch_estimate(col("purchase"))),
        seg("signup", theta_sketch_estimate(col("signup"))),
        seg("view", theta_sketch_estimate(col("view"))),
        seg("error", theta_sketch_estimate(col("error"))),
        seg("click_and_purchase", theta_sketch_estimate(
          theta_intersection(col("click"), col("purchase")))),
        seg("click_not_purchase", theta_sketch_estimate(
          theta_difference(col("click"), col("purchase")))),
        seg("any_event", theta_sketch_estimate(col("all_sk"))))).as("r"))
      .select(col("r.segment").as("segment"), col("r.n_users").as("n_users"))
      .orderBy("segment")
  }

  // ---------------------------------------------------------------
  // q125 — INCREMENTAL crawl ingest (q121 is the batch pipeline,
  // q110 the incremental dedup primitive; this is the production
  // shape that composes them): the corpus is the EXTRACTED text of
  // constant-chrome HTML pages, sketched ONCE into the persisted
  // MinHash index (ids + hashes, never text); a new crawl batch —
  // re-crawls of every 25th page with one injected token, under new
  // crawl ids — is extracted and probed AGAINST THE INDEX at
  // O(batch): the corpus is never rescanned. The page template
  // carries no per-doc chrome, so a re-crawl of unchanged bytes is
  // deterministic. Oracle = exact batch×corpus shingle Jaccard with
  // the SAME extraction inlined on both sides (banding recall 1 on
  // this corpus, as q23/q110 established).
  // ---------------------------------------------------------------
  private[graft] val PageHead = "<HTML><head><title>Crawl Page</title>\n" +
    "<style>p { margin: 0 }</style>\n" +
    "<SCRIPT src=\"app.js\">track();</SCRIPT></head>\n<body>\n" +
    "<NAV><a href=\"/\">Home</a></NAV>\n<!-- chrome -->\n<h1>Entry</h1>\n<p>"

  private def q125(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    import graft.text.HtmlExtract
    val idxPath = s"target/scratch/q125_index_${Scratch.key(dir)}"
    val docs = t(s, dir, "documents").select("doc_id", "text")
    def extracted(pages: DataFrame): DataFrame = pages.select(col("doc_id"),
      HtmlExtract.mainText(
        concat(lit(PageHead), col("text"), lit(HtmlD))).as("text"))
    // corpus pages extracted + sketched once; persisted index artifact
    StagedSwap.overwrite(s, idxPath)(
      Dedup.minhashIndex(extracted(docs), "doc_id", "text").write.parquet(_))
    val index = Tables.parquet(s, idxPath)
    // the new crawl: near-dup re-crawls under fresh crawl ids
    val batch = extracted(
      docs.filter(col("doc_id") % 25 === 0)
        .withColumn("doc_id", col("doc_id") + 2000000L)
        .withColumn("text", concat(lit("zq "), col("text"))))
    Dedup.minhashLshAgainstIndex(index, batch, "doc_id", "text")
      .orderBy("a", "b")
  }

  // ---------------------------------------------------------------
  // q126 — per-domain contribution cap (Sampling.capPerKey): the
  // C4/RefinedWeb guard against one giant host dominating the mix.
  // Fixture is deliberately skewed — a third of the corpus lands on
  // one hub domain (the mega-key the salted two-stage top-k exists
  // for), the rest spreads over 13 tail domains that the cap also
  // binds. Selection is (mix30(id), id)-smallest per domain, so the
  // oracle recomputes the EXACT survivor set with one window; the
  // gated output pins totals, kept counts, and the kept-id checksum
  // per domain.
  // ---------------------------------------------------------------
  private def q126(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Sampling
    val domain = when(pmod(col("doc_id"), lit(3)) === 0, lit("hub.example.com"))
      .otherwise(concat(lit("site-"),
        pmod(Sampling.mix30(col("doc_id") + lit(7L)), lit(13L)).cast("string"),
        lit(".example.com")))
    val docs = t(s, dir, "documents").select(col("doc_id"), domain.as("domain"))
    val capped = Sampling.capPerKey(docs, "domain", "doc_id",
      cap = 8, saltBuckets = 8)
    val totals = docs.groupBy("domain").agg(count(lit(1)).as("n_total"))
    val kept = capped.groupBy("domain").agg(
      count(lit(1)).as("n_kept"),
      sum(col("doc_id")).cast("long").as("sum_kept_ids"))
    totals.join(kept, Seq("domain")).orderBy("domain")
  }

  // ---------------------------------------------------------------
  // q127 — domain-blocklist filtering (Urls.blockedBy): crawl step 0,
  // before any content filter. The fixture exercises every matching
  // regime: a subdomain of a listed entry (blocked transitively), an
  // exact listed domain, the dot-boundary trap (`notads.example.com`
  // must stay clean against `ads.example.com`), clean tail domains,
  // and a list entry matching nothing. The predicate is a literal-
  // array scan filter (zero exchanges besides the census agg); the
  // oracle restates suffix membership as `= dom OR LIKE '%.' || dom`.
  // ---------------------------------------------------------------
  private def q127(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Urls
    val m = pmod(col("doc_id"), lit(7))
    val domain = when(m === 0, lit("tracker.ads.example.com"))
      .when(m === 1, lit("spam.example.net"))
      .when(m === 2, lit("notads.example.com"))
      .otherwise(concat(lit("news-"),
        pmod(col("doc_id"), lit(5)).cast("string"), lit(".example.org")))
    val bl = Seq("ads.example.com", "spam.example.net", "casino.example.biz")
    t(s, dir, "documents")
      .select(col("doc_id"), domain.as("domain"))
      .withColumn("blocked", Urls.blockedBy(col("domain"), bl))
      .groupBy("domain", "blocked")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("long").as("sum_ids"))
      .orderBy("domain")
  }

  // ---------------------------------------------------------------
  // q129 — contamination overlap-fraction report (the GPT-3-appendix
  // audit; q64 answers "which pairs share >= k grams", this answers
  // "HOW contaminated is each train doc"): benchmark = the first
  // half of every 23rd doc's tokens, so contaminated docs report
  // fractions strictly between 0 and 1 — the regime the threshold
  // choice actually looks at. Benchmark gram set broadcast; train
  // streams one left join; per-doc rollup partial-aggregates.
  // 4-grams to match q64's proven oracle restatement.
  // ---------------------------------------------------------------
  private def q129(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val toks = filter(split(col("text"), "\\s+"), x => x =!= "")
    val bench = docs.filter(pmod(col("doc_id"), lit(23)) === 0)
      .select(col("doc_id").as("bench_id"),
        array_join(
          slice(toks, lit(1), floor(size(toks) / lit(2)).cast("int")), " ")
          .as("text"))
    Dedup.contaminationReport(docs, bench, "doc_id", "text", n = 4)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // q143 — BPE vocabulary training (Sennrich 2016; the tokenizer-
  // building step of an LLM data pipeline): ONE corpus-sized pass
  // aggregates (word, cnt); Bpe.train collects that vocabulary-sized
  // table in one bounded job and runs the serial merges in driver
  // memory. The oracle is the serial loop as SQL (Bpe.trainSql,
  // PageRank.sql's pattern) with MATERIALIZED stage CTEs, one per
  // merge, so the two engines walk identical merge sequences; ties
  // break (cnt DESC, lhs, rhs) — total order, cross-engine
  // deterministic.
  // ---------------------------------------------------------------
  private val BpeMerges = 8

  private def q143(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Bpe
    val words = Bpe.wordCounts(
      t(s, dir, "documents").select("text"), "text")
    val merges = Bpe.train(s, words, BpeMerges)
    s.createDataFrame(merges).select("iter", "lhs", "rhs", "cnt")
      .orderBy("iter")
  }

  // ---------------------------------------------------------------
  // q144 — BPE encode + token census (training composed with
  // inference): the learned merges are driver scalars, so encoding
  // is ONE codegen'd chained-replace projection over the word table
  // — no join, no shuffle — and the census is one partial-aggregated
  // count. Top-30 with (n DESC, token) tiebreak. The oracle extends
  // q143's generated chain with the same census over w_N.
  // ---------------------------------------------------------------
  private def q144(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Bpe
    // train collects the table once; encode reads it again
    val words = graft.plans.Plans.barrier(Bpe.wordCounts(
      t(s, dir, "documents").select("text"), "text"))
    val merges = Bpe.train(s, words, BpeMerges)
    Bpe.tokenCensus(Bpe.applyMerges(words, merges))
      .orderBy(col("n").desc, col("token")).limit(30)
  }

  // ---------------------------------------------------------------
  // q336 — per-language BPE fertility (tokens-per-word after
  // encoding — THE tokenizer-equity metric: a language with high
  // fertility pays more sequence length per word, so training
  // mixture and context budgets must account for it). Composes
  // q143's training (corpus-global merges, driver scalars) with a
  // per-(lang, word) count table: encoding is the same ONE codegen'd
  // chained-replace projection (no join, no shuffle), the rollup two
  // partial-aggregated groupBys, fertility/chars-per-token two
  // 6dp-rounded divisions over exact integer sums. Oracle extends
  // the generated training chain with the identical per-lang encode
  // walk (Bpe.fertilitySql) — the two engines share one merge
  // sequence by construction.
  // ---------------------------------------------------------------
  private def q336(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Bpe
    val docs = t(s, dir, "documents")
    val words = Bpe.wordCounts(docs.select("text"), "text")
    val merges = Bpe.train(s, words, BpeMerges)
    val lw = docs
      .select(col("lang"),
        explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
    val toks = size(expr("filter(split(sym, '  '), x -> x != '')"))
      .cast("long")
    lw.select(col("lang"), col("cnt"),
        length(col("word")).cast("long").as("chars"),
        Bpe.encodedSym(col("word"), merges).as("sym"))
      .select(col("lang"), col("cnt"), col("chars"), toks.as("toks"))
      .groupBy("lang")
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("toks")).as("n_tokens"),
        sum(col("cnt") * col("chars")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_tokens"), col("n_chars"),
        round(col("n_tokens").cast("double") /
          col("n_words").cast("double"), 6).as("fertility"),
        round(col("n_chars").cast("double") /
          col("n_tokens").cast("double"), 6).as("chars_per_token"))
      .orderBy("lang")
  }

  // ---------------------------------------------------------------
  // q338 — BPE training at a deeper merge count, gated on real data:
  // Bpe.train picks its half from the vocabulary size — the (word,
  // cnt) table is Zipf-bounded (millions of rows at ANY corpus
  // scale), so below the collect threshold the serial merge loop runs
  // DRIVER-RESIDENT with incremental pair-count updates (classic-
  // trainer shape, 30k merges in minutes), and above it the
  // distributed symbol-disjoint batched path takes over
  // (serial-equality proof at Bpe.trainBatched's scaladoc). Both halves are pinned identical
  // to a serial simulator (BpeSpec / BpeBatchPropertySpec); HERE the
  // in-memory half runs 48 merges on the real corpus word
  // distribution while the ORACLE walks the 48-stage SERIAL CTE
  // chain (Bpe.trainSql) — any pick serial would not have made, in
  // any position, breaks parity.
  // ---------------------------------------------------------------
  private val BpeBatchedMerges = 48

  private def q338(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Bpe
    val words = Bpe.wordCounts(
      t(s, dir, "documents").select("text"), "text")
    val merges = Bpe.train(s, words, BpeBatchedMerges)
    s.createDataFrame(merges).select("iter", "lhs", "rhs", "cnt")
      .orderBy("iter")
  }

  // ---------------------------------------------------------------
  // q339/q340 — BYTE-LEVEL BPE (VERDICT r12 item 3: the word-level
  // family's ^[a-z]+$ domain silently drops punctuation / digits /
  // Unicode; production tokenizers are byte-level precisely so no
  // input is out-of-alphabet). The corpus text is augmented with a
  // deterministic mixed-Unicode+punctuation tail (accents, CJK,
  // Cyrillic, case, currency — ByteExtras, the shared-constant
  // discipline: the SAME Scala Seq emits the Spark lits and the
  // oracle CASE); every token is mapped byte-by-byte through the
  // GPT-2-style byte alphabet (Bpe.byteMapWord — codegen'd hex +
  // literal-map, no UDF; the corpus-sized pass counts RAW tokens,
  // only the vocabulary maps), and the UNCHANGED two-space merge
  // machinery trains on it. Oracles: the serial CTE chain over
  // byteWordCountsSql (q339) and the per-lang byte fertility walk
  // (q340) — mapped words are identical strings in both engines.
  // ---------------------------------------------------------------
  private val ByteExtras = Seq(
    "héllo, wörld!", "¿qué tal? ¡bien!", "日本語のテキスト。",
    "naïve—café… 42%", "тест данных №5", "it's <MiXeD> CaSe;",
    "100,000.00 €")

  private def mixedDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      concat(col("text"), lit(" "),
        // pmod, not %: a negative doc_id under % would index from the
        // END of the array while the oracle CASE yields NULL (ADVICE
        // r13) — pmod and the oracle's ((x%7)+7)%7 agree on all inputs
        element_at(array(ByteExtras.map(lit): _*),
          (pmod(col("doc_id"), lit(7)) + 1).cast("int"))).as("text"))

  private def mixedDocsRel: String = {
    val cases = ByteExtras.zipWithIndex.map { case (s, i) =>
      s"WHEN $i THEN '${s.replace("'", "''")}'"
    }.mkString("\n    ")
    s"""(SELECT doc_id, lang,
       |  text || ' ' || CASE CAST(((doc_id % 7) + 7) % 7 AS INT)
       |    $cases END AS text
       |  FROM documents)""".stripMargin
  }

  private val BpeByteMerges = 24
  private val BpeByteFertMerges = 12

  private def q339(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Bpe
    val words = Bpe.byteWordCounts(
      mixedDocs(t(s, dir, "documents")), "text")
    val merges = Bpe.train(s, words, BpeByteMerges)
    s.createDataFrame(merges).select("iter", "lhs", "rhs", "cnt")
      .orderBy("iter")
  }

  private def q340(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Bpe
    val docs = mixedDocs(t(s, dir, "documents"))
    val words = Bpe.byteWordCounts(docs, "text")
    val merges = Bpe.train(s, words, BpeByteFertMerges)
    // per-(lang, word) byte-mapped counts: raw tokens counted first,
    // only the per-lang vocabulary maps (q340's lw mirror)
    val lw = docs
      .select(col("lang"), explode(split(col("text"), " ")).as("raw"))
      .filter(col("raw") =!= "")
      .groupBy("lang", "raw").agg(count(lit(1)).as("cnt"))
      .select(col("lang"), Bpe.byteMapWord(col("raw")).as("word"),
        col("cnt"))
    val toks = size(expr("filter(split(sym, '  '), x -> x != '')"))
      .cast("long")
    // chars = mapped length = UTF-8 BYTE count (one char per byte) —
    // the byte-level chars-per-token convention
    lw.select(col("lang"), col("cnt"),
        length(col("word")).cast("long").as("chars"),
        Bpe.encodedSym(col("word"), merges).as("sym"))
      .select(col("lang"), col("cnt"), col("chars"), toks.as("toks"))
      .groupBy("lang")
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("toks")).as("n_tokens"),
        sum(col("cnt") * col("chars")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_tokens"), col("n_chars"),
        round(col("n_tokens").cast("double") /
          col("n_words").cast("double"), 6).as("fertility"),
        round(col("n_chars").cast("double") /
          col("n_tokens").cast("double"), 6).as("chars_per_token"))
      .orderBy("lang")
  }

  // ---------------------------------------------------------------
  // q145 — perceptual near-dup for image assets (multimodal/Phash;
  // the media complement of q23's MinHash): each doc becomes a REAL
  // 8×8 greyscale PNG (zlib IDAT that actually inflates; groups of 5
  // share a base image — one exact re-encode, three single-swap
  // near-dups), then decode + 64-bit average-hash in ONE
  // mapPartitions pass, LSH band join (4×16 bits — complete for
  // Hamming ≤ 3 by pigeonhole), Hamming verify. The oracle
  // recomputes identical hashes arithmetically from the pixel
  // formula and brute-forces the pair set (test-scale only).
  // ---------------------------------------------------------------
  private def q145(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Phash
    val assets = Phash.synthesizeCorpus(t(s, dir, "documents"), "doc_id")
    val hashed = Phash.hashAssets(assets, "doc_id", "payload")
    Phash.nearDupPairs(hashed, "doc_id", "ahash", tau = 3, bands = 4)
      .orderBy("a", "b")
  }

  // ---------------------------------------------------------------
  // q146 — right-to-be-forgotten propagation (ops/Forget): a
  // requests-sized deletion set (every 97th user seen in events)
  // fans out across every table carrying the key family — customer,
  // orders, events — as BROADCAST anti-joins/left-join audits, so
  // each 100 TB table pays exactly one pass and zero exchanges. The
  // audit (before/purged/after + surviving-key checksum) is the
  // compliance artifact; an in-query require cross-checks purge()
  // against the audit arithmetic on the largest table.
  // ---------------------------------------------------------------
  private def q146(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Forget
    val events = t(s, dir, "events")
    val requests = events.select(col("user_id").as("k"))
      .filter(col("k") % 97 === 0).distinct()
    val audit = graft.plans.Plans.barrier(Forget.audit(Seq(
      ("customer", t(s, dir, "customer"), "c_custkey"),
      ("events", events, "user_id"),
      ("orders", t(s, dir, "orders"), "o_custkey")), requests))
    // defense-in-depth: the purged table must agree with the audit's
    // arithmetic (rows_after, surviving-key checksum) row for events
    val p = Forget.purge(events, "user_id", requests)
      .agg(count(lit(1)).as("n"), sum(col("user_id")).as("s")).head()
    val a = audit.filter(col("table_name") === "events").head()
    require(p.getLong(0) == a.getAs[Long]("rows_after") &&
      p.getLong(1) == a.getAs[Long]("sum_remaining_keys"),
      s"purge/audit mismatch on events: $p vs $a")
    audit.orderBy("table_name")
  }

  // ---------------------------------------------------------------
  // q150 — one distributed k-means Lloyd step (ann/KMeans; the
  // clustering primitive behind IVF coarse quantizers q37 and
  // SemDeDup-style corpus partitioning): assignment is one codegen'd
  // scan expression against k driver-literal centroids (the k
  // smallest-id vectors — bounded collect), the update one
  // partial-aggregated (cluster, dim) sum of µ-quantized INTEGERS
  // (q115's floor rounding) so the cross-row aggregation is
  // order-independent and cross-engine exact; means surface as
  // round(sum/(n·10⁶), 9). Oracle generated by KMeans.sql with the
  // same sequential-fold distance (cosSql's precedent).
  // ---------------------------------------------------------------
  private def q150(s: SparkSession, dir: String): DataFrame = {
    import graft.ann.KMeans
    val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
    val cents = KMeans.initCentroids(emb, "vec_id", "embedding", k = 8)
    KMeans.lloydStep(emb, "embedding", cents)
      .orderBy("cl", "dim")
  }

  // ---------------------------------------------------------------
  // q153 — perceptual AUDIO near-dup (q145's twin over PCM-16 WAVs):
  // real RIFF containers with spliced 16-bit LE samples, decoded by
  // a chunk walk (fmt must precede data, PCM/mono/16 enforced), then
  // a sign-of-derivative 64-bit fingerprint — amplitude-invariant
  // waveform shape, the Chromaprint-family primitive. Same
  // mapPartitions + band-join machinery as q145 (nearDupPairs is
  // hash-agnostic); oracle recomputes samples arithmetically and
  // brute-forces pairs at test scale.
  // ---------------------------------------------------------------
  private def q153(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Phash
    val assets = Phash.synthesizeWavCorpus(t(s, dir, "documents"), "doc_id")
    val hashed = Phash.hashWavAssets(assets, "doc_id", "payload")
    Phash.nearDupPairs(hashed, "doc_id", "ahash", tau = 3, bands = 4)
      .orderBy("a", "b")
  }

  // ---------------------------------------------------------------
  // q163 — SemDeDup semantic dedup (dedup/Dedup.semantic — the
  // LAION/LLM curation recipe, Abbas et al. 2023): k-means cluster
  // partition (q150's codegen'd nearest-centroid assignment against
  // the 8 smallest-id seed centroids) + within-cluster cosine ≥ τ
  // prune keeping the min id — the composition q150 and q26 are
  // parts of. Corpus = q26's proven near-dup fixture (every 25th
  // vector re-appears ×1.01-scaled under a high id — same direction,
  // cosine ≈ 1, so copies that co-cluster with their original are
  // dropped). Gated output is the per-cluster census (totals, drops,
  // survivor id checksum); the oracle replays assignment with
  // KMeans.sql's distance chain and the prune with cosSql's
  // sequential-double cosine, so cluster boundaries and the ε-ball
  // election must agree bit-for-bit cross-engine.
  // ---------------------------------------------------------------
  private def q163(s: SparkSession, dir: String): DataFrame = {
    import graft.ann.KMeans
    import graft.dedup.Dedup
    val base = t(s, dir, "embeddings").select("vec_id", "embedding")
    val corpus = PipelineEntry.vecCorpus(s, dir)
    val cents = KMeans.initCentroids(base, "vec_id", "embedding", k = 8)
    Dedup.semantic(corpus, "vec_id", "embedding", cents, tau = 0.95)
      .groupBy("cl")
      .agg(count(lit(1)).as("n_total"),
        count(when(!col("kept"), 1)).as("n_dropped"),
        sum(when(col("kept"), col("doc_id"))).as("kept_sum_ids"))
      .orderBy("cl")
  }

  // ---------------------------------------------------------------
  // q327 — SemDeDup with 2-probe assignment (Dedup.semantic
  // probe2 = true — the r9 cell-boundary recall fix made a gated
  // contract): identical fixture and census as q163, but candidate
  // pairs form in the UNION of each vector's nearest AND second-
  // nearest centroid buckets, so ε-ball members straddling a
  // bisector are caught. The oracle replays rank-≤2 assignment
  // (row_number ≤ 2 over the same (dist, cid) order — the Scala
  // runner-up election matches this tie discipline exactly) and the
  // widened pair join; the census still keys on the PRIMARY cluster.
  // ---------------------------------------------------------------
  private def q327(s: SparkSession, dir: String): DataFrame = {
    import graft.ann.KMeans
    import graft.dedup.Dedup
    val base = t(s, dir, "embeddings").select("vec_id", "embedding")
    val corpus = PipelineEntry.vecCorpus(s, dir)
    val cents = KMeans.initCentroids(base, "vec_id", "embedding", k = 8)
    Dedup.semantic(corpus, "vec_id", "embedding", cents, tau = 0.95,
        probe2 = true)
      .groupBy("cl")
      .agg(count(lit(1)).as("n_total"),
        count(when(!col("kept"), 1)).as("n_dropped"),
        sum(when(col("kept"), col("doc_id"))).as("kept_sum_ids"))
      .orderBy("cl")
  }

  // ---------------------------------------------------------------
  // q164 — repeated-substring exposure report (Dedup.repeatedGramReport
  // — the doc-level shape of Lee et al. 2022's exact substring dedup):
  // per doc, the fraction of its distinct word 8-grams already OWNED
  // by an earlier doc (owner = min doc id containing the gram).
  // Fixture plants recycled text: every 9th doc re-appears under a
  // high id with a fresh tail appended, so copies score high (most
  // grams owned by the original) while originals score near zero.
  // The big-big gram join is the q137 shape — both sides 8-byte
  // hashes; oracle restates q64/q129's proven gram chain at k=8 with
  // the same min-owner attribution.
  // ---------------------------------------------------------------
  private def q164(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    val base = t(s, dir, "documents").select("doc_id", "text")
    val corpus = base.unionByName(base.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"),
        concat(col("text"), lit(" graft tail marker alpha beta gamma"))
          .as("text")))
    Dedup.repeatedGramReport(corpus, "doc_id", "text", n = 8)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // q165 — DSIR importance weighting (text/Dsir — Xie et al. 2023's
  // data-selection-by-importance-resampling scoring pass): every doc
  // scored by the mean Laplace-smoothed bigram importance ratio
  // against a small target set (fixture: every 31st doc ≡ the
  // exemplar corpus). Occurrence-mass grams (NOT the distinct-set
  // sketch), big-big hashed count join, broadcast target counts,
  // three driver scalars (BM25's precedent), µ-quantized BIGINT mean
  // (q150/q155's discipline). Oracle generated by Dsir.sql from the
  // same shape — gram chain, smoothing arithmetic, and quantization
  // cannot drift.
  // ---------------------------------------------------------------
  private def q165(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Dsir
    val docs = t(s, dir, "documents").select("doc_id", "text")
    Dsir.score(docs, docs.filter(col("doc_id") % 31 === 7), "doc_id", "text")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // q331 — DSIR with a persisted corpus distribution (text/Dsir
  // .indexedScore — the q325 production-shape lesson applied to the
  // registry's top remaining steady-state heavy): the raw-corpus
  // bigram counts land in parquet ONCE ((gram-hash, count) rows,
  // 8-byte keys, self-describing family tag + corpus fingerprint),
  // and a scoring batch (every 3rd doc here) pays only its own gram
  // explode + one keyed join — O(batch), the corpus never rescans;
  // N_c/V derive from the vocabulary-sized index. Oracle is the full
  // from-scratch recompute over the same batch (Dsir.sqlBatch) —
  // index transparency is the gated property, exactly q325's
  // contract. Stale/foreign/torn artifacts rebuild via the staged
  // swap, never abort.
  // ---------------------------------------------------------------
  private def q331(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Dsir
    val docs = t(s, dir, "documents").select("doc_id", "text")
    Dsir.indexedScore(s,
        s"target/scratch/dsir_index_${Scratch.key(dir)}",
        corpus = docs,
        target = docs.filter(col("doc_id") % 31 === 7),
        batch = docs.filter(col("doc_id") % 3 === 1),
        "doc_id", "text")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // q335 — DSIR probe under METADATA-SIZED freshness (ops/
  // ArtifactIndex.Token via fileToken — VERDICT r10 item 1, the
  // highest-leverage scale item): q331's fingerprint mode still
  // rescans the full corpus on every probe to validate the index; at
  // 100 TB that validation scan dominates the O(batch) probe it
  // guards. Here the signature is a TOKEN derived from the corpus
  // directory's file listing (one driver-side FileSystem listing —
  // no Spark job, no data read; any rewrite/append/compaction bumps
  // it), so the steady-state probe is O(batch + metadata). Own
  // artifact path — the q331 fingerprint artifact and this token
  // artifact must never thrash each other (a mode switch reads as a
  // signature mismatch by design). Oracle is the full from-scratch
  // recompute over the batch (every doc ≡ 2 mod 3 — disjoint from
  // q331's batch, so artifact crosstalk would be visible): index
  // transparency gated under the cheap freshness signal.
  // ---------------------------------------------------------------
  private def q335(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Dsir
    val docs = t(s, dir, "documents").select("doc_id", "text")
    Dsir.indexedScore(s,
        s"target/scratch/dsir_index_tok_${Scratch.key(dir)}",
        corpus = docs,
        target = docs.filter(col("doc_id") % 31 === 7),
        batch = docs.filter(col("doc_id") % 3 === 2),
        "doc_id", "text",
        freshness = graft.ops.ArtifactIndex.fileToken(
          s, s"$dir/documents.parquet"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // q166 — k-anonymity / l-diversity audit (quality/Anonymity — the
  // pre-export privacy gate; measures what q55 redaction and q146
  // purge enforce): equivalence classes over the quasi-identifiers
  // (c_nationkey, c_mktsegment) flagged when smaller than k=10 or
  // when the sensitive attribute (account-balance sign) shows < 2
  // distinct values. One partial-aggregated groupBy, output ∝
  // classes; oracle restates the census + HAVING directly.
  // ---------------------------------------------------------------
  private def q166(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Anonymity
    val cust = t(s, dir, "customer")
      .withColumn("acct_negative", (col("c_acctbal") < 0).cast("int"))
    Anonymity.audit(cust, Seq("c_nationkey", "c_mktsegment"),
        "acct_negative", k = 10L, l = 2L)
      .orderBy("c_nationkey", "c_mktsegment")
  }

  // ---------------------------------------------------------------
  // q167 — hard-negative mining (ann/Ann.hardNegatives — the
  // DPR/SimCSE contrastive-training recipe): per anchor, the 5
  // most-similar vectors with cosine BELOW the 0.95 near-dup
  // threshold, so a planted near-duplicate (q26's ×1.01 copies —
  // cosine ≈ 1) never leaks in as a negative. Plan = q27's broadcast
  // shape + one scan predicate; oracle = the exact filtered top-k in
  // SQL with the same bit-reproducible cosine.
  // ---------------------------------------------------------------
  private def q167(s: SparkSession, dir: String): DataFrame = {
    import graft.ann.Ann
    val corpus = PipelineEntry.vecCorpus(s, dir)
    val anchors = corpus.filter(col("vec_id") % 25 === 0 &&
      col("vec_id") < 200)
    Ann.hardNegatives(corpus, anchors, "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rk")
  }

  // ---------------------------------------------------------------
  // q169 — Johnson–Lindenstrauss random projection
  // (ann/RandomProjection): embeddings reduced 64 → 16 dims via the
  // LSH family's seeded deterministic Gaussian planes, y = (1/√k)R·v
  // — a pure zero-exchange per-row projection (the cost reducer the
  // ANN/dedup passes run behind at 100 TB). Oracle generated by
  // RandomProjection.sql with the plane doubles embedded as
  // round-trip literals and the same sequential-fold dot.
  // ---------------------------------------------------------------
  private def q169(s: SparkSession, dir: String): DataFrame = {
    import graft.ann.RandomProjection
    RandomProjection.project(t(s, dir, "embeddings"), "vec_id",
        "embedding", outDim = 16)
      .orderBy("vec_id", "j")
  }

  // ---------------------------------------------------------------
  // q180 — c-TF-IDF cluster labeling (text/ClusterTerms — the
  // BERTopic recipe: q150's k-means partitions the corpus, this
  // names the clusters by their DISTINGUISHING terms; corpus-wide
  // filler scores exactly 0 via ln(k/k)): documents join their
  // embeddings, assign to the 8 seed centroids (q163's proven
  // chain), then per cluster the top-5 terms by the 9dp-rounded
  // (tf/m)·ln(k/df) score. Oracle restates assignment via the
  // KMeans.sql distance CTEs + the identical scoring chain.
  // ---------------------------------------------------------------
  private def q180(s: SparkSession, dir: String): DataFrame = {
    import graft.ann.KMeans
    import graft.text.ClusterTerms
    val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
    val cents = KMeans.initCentroids(emb, "vec_id", "embedding", k = 8)
    val assigned = emb.select(col("vec_id").as("doc_id"),
      graft.functions.VectorColumns.nearestCentroid(col("embedding"), cents)
        .as("cl"))
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .join(assigned, Seq("doc_id"))
    ClusterTerms.label(docs, "cl", "text", topK = 5)
      .orderBy("cl", "rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q180_cluster_terms" -> (q180 _),
    "q169_random_projection" -> (q169 _),
    "q166_k_anonymity" -> (q166 _),
    "q167_hard_negatives" -> (q167 _),
    "q165_dsir_weights" -> (q165 _),
    "q331_dsir_indexed" -> (q331 _),
    "q335_dsir_token" -> (q335 _),
    "q336_bpe_fertility" -> (q336 _),
    "q338_bpe_batched" -> (q338 _),
    "q339_bpe_bytes" -> (q339 _),
    "q340_byte_fertility" -> (q340 _),
    "q164_substring_report" -> (q164 _),
    "q163_semdedup" -> (q163 _),
    "q327_semdedup_probe2" -> (q327 _),
    "q143_bpe_train" -> (q143 _),
    "q144_bpe_census" -> (q144 _),
    "q145_image_neardup" -> (q145 _),
    "q146_forget_purge" -> (q146 _),
    "q150_kmeans_step" -> (q150 _),
    "q153_audio_neardup" -> (q153 _),
    "q119_rest_offset" -> (q119 _),
    "q126_domain_cap" -> (q126 _),
    "q127_domain_blocklist" -> (q127 _),
    "q129_contamination_report" -> (q129 _),
    "q120_split_neardup" -> (q120 _),
    "q121_crawl_pipeline" -> (q121 _),
    "q122_version_cdc" -> (q122 _),
    "q123_heavy_hitters" -> (q123 _),
    "q124_theta_segments" -> (q124 _),
    "q125_crawl_incremental" -> (q125 _),
    "q113_split_leakage_safe" -> (q113 _),
    "q114_sketch_quantiles" -> (q114 _),
    "q115_embedding_int8" -> (q115 _),
    "q116_html_extract" -> (q116 _),
    "q117_snapshot_asof" -> (q117 _),
    "q118_versioned_table" -> (q118 _))

  /** SQL string literal (newlines are legal inside SQL literals). */
  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  val oracleSql: Map[String, String] = Map(
    // q180: assignment = q163's proven cents/v/d/a distance chain;
    // scoring = the identical (tf/m)·ln(k/df) with the 9dp round
    // BEFORE ranking so ln's last-ulp wobble cannot reorder.
    "q180_cluster_terms" ->
      s"""WITH cents AS MATERIALIZED (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
        |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS c
        |  FROM embeddings
        |  WHERE vec_id IN (SELECT vec_id FROM embeddings
        |                   ORDER BY vec_id LIMIT 8)),
        |v AS MATERIALIZED (
        |  SELECT vec_id AS vid,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
        |  FROM embeddings),
        |d AS MATERIALIZED (
        |  SELECT v.vid, c.cid,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(range(1, len(dv) + 1),
        |        i -> (dv[i] - c.c[i]) * (dv[i] - c.c[i]))),
        |      (acc, x) -> acc + x) AS dist
        |  FROM v, cents c),
        |a AS MATERIALIZED (
        |  SELECT vid, cid FROM (
        |    SELECT vid, cid,
        |      row_number() OVER (PARTITION BY vid ORDER BY dist, cid) AS rn
        |    FROM d) WHERE rn = 1),
        |toks AS MATERIALIZED (
        |  SELECT a.cid AS cl,
        |    unnest(${TextHashes.wordTokensSql("text")}) AS w
        |  FROM documents doc JOIN a ON a.vid = doc.doc_id),
        |tf AS MATERIALIZED (
        |  SELECT cl, w, count(*) AS tf FROM toks GROUP BY 1, 2),
        |mass AS (SELECT cl, CAST(sum(tf) AS BIGINT) AS m FROM tf GROUP BY 1),
        |dfc AS (SELECT w, count(*) AS df_cl FROM tf GROUP BY 1),
        |kk AS (SELECT CAST(count(DISTINCT cl) AS DOUBLE) AS k FROM tf),
        |sc AS (
        |  SELECT cl, w, tf, df_cl,
        |    round((CAST(tf AS DOUBLE) / m) * ln(k / df_cl), 9) AS score
        |  FROM tf JOIN mass USING (cl) JOIN dfc USING (w) CROSS JOIN kk),
        |r AS (
        |  SELECT cl, w, tf, df_cl, score,
        |    CAST(row_number() OVER (PARTITION BY cl
        |      ORDER BY score DESC, w) AS INT) AS rank
        |  FROM sc)
        |SELECT cl, rank, w AS term, tf, df_cl, score
        |FROM r WHERE rank <= 5 ORDER BY cl, rank""".stripMargin,
    "q169_random_projection" ->
      s"""SELECT * FROM (
         |${graft.ann.RandomProjection.sql("embeddings", "vec_id",
            "embedding", outDim = 16)}
         |) z ORDER BY vec_id, j""".stripMargin,
    "q166_k_anonymity" ->
      """WITH a AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS class_size,
        |    count(DISTINCT CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END)
        |      AS n_sensitive
        |  FROM customer GROUP BY 1, 2
        |)
        |SELECT c_nationkey, c_mktsegment, class_size, n_sensitive,
        |  class_size < 10 AS k_violation,
        |  n_sensitive < 2 AS l_violation
        |FROM a WHERE class_size < 10 OR n_sensitive < 2
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    // q167: the exact filtered top-k (cos < 0.95 strict — both
    // engines compute the identical sequential double, so the
    // verdict agrees) over the q26 near-dup corpus.
    "q167_hard_negatives" -> {
      val cos = PipelineEntry.cosSql("qv", "dv")
      s"""WITH corpus AS MATERIALIZED (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000,
         |    list_transform(embedding, x -> CAST(x * CAST(1.01 AS FLOAT) AS FLOAT))
         |  FROM embeddings WHERE vec_id % 25 = 0),
         |cv AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
         |  FROM corpus),
         |q AS (
         |  SELECT vec_id AS query_id, dv AS qv FROM cv
         |  WHERE vec_id % 25 = 0 AND vec_id < 200),
         |scored AS (
         |  SELECT query_id, vec_id AS neighbor_id, $cos AS cos
         |  FROM q JOIN cv ON query_id <> vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS INT) AS rk
         |  FROM scored WHERE cos < 0.95)
         |SELECT query_id, neighbor_id, cos, rk FROM ranked
         |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
    },
    "q165_dsir_weights" ->
      s"""SELECT * FROM (
         |${graft.text.Dsir.sql(
            "SELECT doc_id, text FROM documents",
            "SELECT text FROM documents WHERE doc_id % 31 = 7")}
         |) z ORDER BY doc_id""".stripMargin,
    // q331: the full recompute over the indexed probe's batch — a
    // lost/duplicated/stale index row breaks parity (q325's contract)
    "q331_dsir_indexed" ->
      s"""SELECT * FROM (
         |${graft.text.Dsir.sqlBatch(
            "SELECT doc_id, text FROM documents",
            "SELECT text FROM documents WHERE doc_id % 31 = 7",
            "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1")}
         |) z ORDER BY doc_id""".stripMargin,
    // q335: identical full-recompute contract over the token-signed
    // probe's (disjoint) batch — the cheap freshness signal must not
    // change a single scored value
    "q335_dsir_token" ->
      s"""SELECT * FROM (
         |${graft.text.Dsir.sqlBatch(
            "SELECT doc_id, text FROM documents",
            "SELECT text FROM documents WHERE doc_id % 31 = 7",
            "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2")}
         |) z ORDER BY doc_id""".stripMargin,
    // q164: gram generation restated exactly as q64/q129's proven
    // chain at k=8 (lowercase, \s+ split, empty filter, distinct
    // 8-grams, whole-text gram under 8 tokens); owner = min doc id
    // per gram, n_seen counts grams with a strictly-smaller owner.
    "q164_substring_report" ->
      s"""WITH corpus AS MATERIALIZED (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    text || ' graft tail marker alpha beta gamma'
        |  FROM documents WHERE doc_id % 9 = 0
        |), g AS MATERIALIZED (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(t) - 6),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
        |                t[i+3] || ' ' || t[i+4] || ' ' || t[i+5] || ' ' ||
        |                t[i+6] || ' ' || t[i+7]))
        |    END) AS gram
        |  FROM (SELECT doc_id,
        |          ${TextHashes.wordTokensSql("text")} AS t
        |        FROM corpus)
        |), o AS MATERIALIZED (
        |  SELECT gram, min(doc_id) AS owner FROM g GROUP BY gram
        |)
        |SELECT g.doc_id, count(*) AS n_grams,
        |  count(*) FILTER (WHERE o.owner < g.doc_id) AS n_seen,
        |  round(CAST(count(*) FILTER (WHERE o.owner < g.doc_id) AS DOUBLE)
        |    / count(*), 9) AS frac_repeated
        |FROM g JOIN o USING (gram)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    // q163: assignment restated with KMeans.sql's distance chain
    // (sequential-double fold, ties to the smallest cid), the prune
    // with cosSql's bit-reproducible cosine, the census over the
    // same FILTER semantics — cluster boundaries, the ε-ball
    // election, and the survivor checksum must all agree.
    "q163_semdedup" -> {
      val cos = PipelineEntry.cosSql("x.dv", "y.dv")
      s"""WITH cents AS MATERIALIZED (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS c
         |  FROM embeddings
         |  WHERE vec_id IN (SELECT vec_id FROM embeddings
         |                   ORDER BY vec_id LIMIT 8)),
         |corpus AS MATERIALIZED (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000,
         |    list_transform(embedding, x -> CAST(x * CAST(1.01 AS FLOAT) AS FLOAT))
         |  FROM embeddings WHERE vec_id % 25 = 0),
         |v AS MATERIALIZED (
         |  SELECT vec_id AS vid,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
         |  FROM corpus),
         |d AS MATERIALIZED (
         |  SELECT v.vid, c.cid,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, len(dv) + 1),
         |        i -> (dv[i] - c.c[i]) * (dv[i] - c.c[i]))),
         |      (acc, x) -> acc + x) AS dist
         |  FROM v, cents c),
         |a AS MATERIALIZED (
         |  SELECT vid, cid FROM (
         |    SELECT vid, cid,
         |      row_number() OVER (PARTITION BY vid ORDER BY dist, cid) AS rn
         |    FROM d) WHERE rn = 1),
         |drops AS MATERIALIZED (
         |  SELECT DISTINCT y.vid AS b
         |  FROM v x JOIN a ax ON x.vid = ax.vid
         |    JOIN a ay ON ax.cid = ay.cid
         |    JOIN v y ON y.vid = ay.vid AND x.vid < y.vid
         |  WHERE $cos >= 0.95)
         |SELECT cid AS cl, count(*) AS n_total,
         |  count(*) FILTER (WHERE vid IN (SELECT b FROM drops)) AS n_dropped,
         |  CAST(sum(vid) FILTER (WHERE vid NOT IN (SELECT b FROM drops))
         |    AS BIGINT) AS kept_sum_ids
         |FROM a GROUP BY 1 ORDER BY cl""".stripMargin
    },
    "q327_semdedup_probe2" -> {
      val cos = PipelineEntry.cosSql("x.dv", "y.dv")
      s"""WITH cents AS MATERIALIZED (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS c
         |  FROM embeddings
         |  WHERE vec_id IN (SELECT vec_id FROM embeddings
         |                   ORDER BY vec_id LIMIT 8)),
         |corpus AS MATERIALIZED (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000,
         |    list_transform(embedding, x -> CAST(x * CAST(1.01 AS FLOAT) AS FLOAT))
         |  FROM embeddings WHERE vec_id % 25 = 0),
         |v AS MATERIALIZED (
         |  SELECT vec_id AS vid,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
         |  FROM corpus),
         |d AS MATERIALIZED (
         |  SELECT v.vid, c.cid,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, len(dv) + 1),
         |        i -> (dv[i] - c.c[i]) * (dv[i] - c.c[i]))),
         |      (acc, x) -> acc + x) AS dist
         |  FROM v, cents c),
         |ranked AS MATERIALIZED (
         |  SELECT vid, cid,
         |    row_number() OVER (PARTITION BY vid ORDER BY dist, cid) AS rn
         |  FROM d),
         |a AS MATERIALIZED (SELECT vid, cid FROM ranked WHERE rn = 1),
         |a2 AS MATERIALIZED (SELECT vid, cid FROM ranked WHERE rn <= 2),
         |drops AS MATERIALIZED (
         |  SELECT DISTINCT y.vid AS b
         |  FROM v x JOIN a2 ax ON x.vid = ax.vid
         |    JOIN a2 ay ON ax.cid = ay.cid
         |    JOIN v y ON y.vid = ay.vid AND x.vid < y.vid
         |  WHERE $cos >= 0.95)
         |SELECT cid AS cl, count(*) AS n_total,
         |  count(*) FILTER (WHERE vid IN (SELECT b FROM drops)) AS n_dropped,
         |  CAST(sum(vid) FILTER (WHERE vid NOT IN (SELECT b FROM drops))
         |    AS BIGINT) AS kept_sum_ids
         |FROM a GROUP BY 1 ORDER BY cl""".stripMargin
    },
    "q143_bpe_train" -> graft.text.Bpe.trainSql(
      graft.text.Bpe.wordCountsSql("documents", "text"), BpeMerges),
    // q338: the SERIAL 48-stage chain gates the batched trainer —
    // batching must be scheduling-only, invisible in the merge list
    "q338_bpe_batched" -> graft.text.Bpe.trainSql(
      graft.text.Bpe.wordCountsSql("documents", "text"),
      BpeBatchedMerges),
    // q336: the generated training chain + the identical per-lang
    // encode walk — one merge sequence serves both engines
    "q336_bpe_fertility" -> graft.text.Bpe.fertilitySql(
      "documents", "text", nMerges = BpeMerges),
    // q339/q340: byte-level — the serial chain over the byte-mapped
    // vocabulary (the 256-row VALUES map is generated from the SAME
    // Scala byteAlphabet the Spark plan embeds)
    "q339_bpe_bytes" -> graft.text.Bpe.trainSql(
      graft.text.Bpe.byteWordCountsSql(mixedDocsRel, "text"),
      BpeByteMerges),
    "q340_byte_fertility" -> graft.text.Bpe.byteFertilitySql(
      mixedDocsRel, "text", nMerges = BpeByteFertMerges),
    "q144_bpe_census" -> graft.text.Bpe.censusSql(
      graft.text.Bpe.wordCountsSql("documents", "text"), BpeMerges, 30),
    "q150_kmeans_step" ->
      s"""SELECT * FROM (
         |${graft.ann.KMeans.sql("embeddings", "vec_id", "embedding", 8)}
         |) km ORDER BY cl, dim""".stripMargin,
    "q146_forget_purge" -> {
      def leg(name: String, table: String, key: String) =
        s"""SELECT '$name' AS table_name, count(*) AS rows_before,
           |  count(*) FILTER (WHERE $key IN (SELECT k FROM req)) AS rows_purged,
           |  count(*) FILTER (WHERE $key NOT IN (SELECT k FROM req)) AS rows_after,
           |  coalesce(CAST(sum($key) FILTER (WHERE $key NOT IN (SELECT k FROM req))
           |    AS BIGINT), 0) AS sum_remaining_keys
           |FROM $table""".stripMargin
      s"""WITH req AS (
         |  SELECT DISTINCT user_id AS k FROM events WHERE user_id % 97 = 0)
         |${leg("customer", "customer", "c_custkey")}
         |UNION ALL
         |${leg("events", "events", "user_id")}
         |UNION ALL
         |${leg("orders", "orders", "o_custkey")}
         |ORDER BY table_name""".stripMargin
    },
    "q153_audio_neardup" ->
      s"""WITH ${graft.multimodal.Phash.wavFixtureHashSql("SELECT doc_id FROM documents")}
         |SELECT a, b, dist FROM (
         |  SELECT x.doc_id AS a, y.doc_id AS b,
         |    CAST(bit_count(xor(x.ahash, y.ahash)) AS INT) AS dist
         |  FROM h x JOIN h y ON x.doc_id < y.doc_id)
         |WHERE dist <= 3 ORDER BY a, b""".stripMargin,
    "q145_image_neardup" ->
      s"""WITH ${graft.multimodal.Phash.fixtureHashSql("SELECT doc_id FROM documents")}
         |SELECT a, b, dist FROM (
         |  SELECT x.doc_id AS a, y.doc_id AS b,
         |    CAST(bit_count(xor(x.ahash, y.ahash)) AS INT) AS dist
         |  FROM h x JOIN h y ON x.doc_id < y.doc_id)
         |WHERE dist <= 3 ORDER BY a, b""".stripMargin,
    // q126: the oracle re-derives the exact survivor set with the
    // textbook single window (the shape graft avoids at scale) —
    // identical (mix30, id) order, so counts AND the kept-id
    // checksum must agree per domain.
    "q126_domain_cap" -> {
      import graft.ops.Sampling.mix30Sql
      s"""WITH d AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 3 = 0 THEN 'hub.example.com'
         |              ELSE 'site-' || CAST((${mix30Sql("(doc_id + 7)")}) % 13 AS VARCHAR)
         |                   || '.example.com'
         |         END AS domain,
         |         (${mix30Sql("doc_id")}) AS pri
         |  FROM documents
         |), r AS (
         |  SELECT domain, doc_id,
         |         row_number() OVER (PARTITION BY domain ORDER BY pri, doc_id) AS rk
         |  FROM d
         |)
         |SELECT domain,
         |       count(*) AS n_total,
         |       count(*) FILTER (WHERE rk <= 8) AS n_kept,
         |       CAST(sum(doc_id) FILTER (WHERE rk <= 8) AS BIGINT) AS sum_kept_ids
         |FROM r GROUP BY domain ORDER BY domain""".stripMargin
    },
    // q129: gram generation restated exactly as q64's proven oracle
    // (lowercase, \s+ split, empty filter, distinct 4-grams,
    // whole-text gram under 4 tokens); benchmark text = first
    // len//2 tokens of every 23rd doc, same slice both engines.
    "q129_contamination_report" ->
      s"""WITH ev AS (
        |  SELECT array_to_string(t[1 : len(t)//2], ' ') AS text
        |  FROM (SELECT list_filter(string_split_regex(text, '\\s+'),
        |                 x -> x <> '') AS t
        |        FROM documents WHERE doc_id % 23 = 0)
        |), eg AS (
        |  SELECT DISTINCT unnest(
        |    CASE WHEN len(t) < 4 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(t) - 2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
        |    END) AS gram
        |  FROM (SELECT ${TextHashes.wordTokensSql("text")} AS t
        |        FROM ev)
        |), tg AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(t) < 4 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(t) - 2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
        |    END) AS gram
        |  FROM (SELECT doc_id,
        |          ${TextHashes.wordTokensSql("text")} AS t
        |        FROM documents)
        |)
        |SELECT t.doc_id, count(*) AS n_grams,
        |  count(e.gram) AS n_matched,
        |  round(CAST(count(e.gram) AS DOUBLE) / count(*), 9)
        |    AS frac_contaminated
        |FROM tg t LEFT JOIN eg e USING (gram)
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    // q127: suffix-set membership restated as the equivalent
    // dot-boundary predicate (= entry OR ends with '.' || entry).
    "q127_domain_blocklist" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 0 THEN 'tracker.ads.example.com'
        |              WHEN doc_id % 7 = 1 THEN 'spam.example.net'
        |              WHEN doc_id % 7 = 2 THEN 'notads.example.com'
        |              ELSE 'news-' || CAST(doc_id % 5 AS VARCHAR) || '.example.org'
        |         END AS domain
        |  FROM documents
        |), b(dom) AS (VALUES ('ads.example.com'), ('spam.example.net'),
        |               ('casino.example.biz')),
        |m AS (
        |  SELECT doc_id, domain,
        |         EXISTS (SELECT 1 FROM b WHERE d.domain = b.dom
        |                 OR d.domain LIKE '%.' || b.dom) AS blocked
        |  FROM d
        |)
        |SELECT domain, blocked, count(*) AS n_docs,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM m GROUP BY domain, blocked ORDER BY domain""".stripMargin,
    // q119 round-trips supplier through the offset-paginated REST
    // source; the oracle is the table itself — a dropped slice,
    // doubled tail, failed auth, or bad parse loses/dupes rows.
    "q119_rest_offset" ->
      """SELECT s_suppkey, s_name, s_nationkey FROM supplier
        |ORDER BY s_suppkey""".stripMargin,
    "q125_crawl_incremental" -> {
      val ctext = graft.text.HtmlExtract.mainTextSql(
        s"${sqlLit(PageHead)} || text || ${sqlLit(HtmlD)}")
      val btext = graft.text.HtmlExtract.mainTextSql(
        s"${sqlLit(PageHead)} || 'zq ' || text || ${sqlLit(HtmlD)}")
      def shingles(src: String) =
        s"""SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
           |      ELSE list_distinct(list_transform(range(1, len(t) - 1),
           |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS g
           |  FROM (SELECT doc_id,
           |    ${TextHashes.wordTokensSql("x")} AS t
           |    FROM $src)""".stripMargin
      s"""WITH corpus AS (
         |  SELECT doc_id, $ctext AS x FROM documents
         |), batch AS (
         |  SELECT doc_id + 2000000 AS doc_id, $btext AS x
         |  FROM documents WHERE doc_id % 25 = 0
         |), csets AS (
         |  ${shingles("corpus")}
         |), bsets AS (
         |  ${shingles("batch")}
         |), pairs AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b,
         |    len(list_intersect(x.g, y.g)) * 1.0
         |      / (len(x.g) + len(y.g) - len(list_intersect(x.g, y.g))) AS jaccard
         |  FROM csets x JOIN bsets y ON TRUE
         |)
         |SELECT a, b, jaccard FROM pairs WHERE jaccard >= 0.7
         |ORDER BY a, b""".stripMargin
    },
    "q124_theta_segments" ->
      """SELECT segment, n_users FROM (
        |  SELECT event_type AS segment, count(DISTINCT user_id) AS n_users
        |  FROM events GROUP BY 1
        |  UNION ALL
        |  SELECT 'click_and_purchase', count(*) FROM (
        |    SELECT user_id FROM events WHERE event_type = 'click'
        |    INTERSECT
        |    SELECT user_id FROM events WHERE event_type = 'purchase')
        |  UNION ALL
        |  SELECT 'click_not_purchase', count(*) FROM (
        |    SELECT user_id FROM events WHERE event_type = 'click'
        |    EXCEPT
        |    SELECT user_id FROM events WHERE event_type = 'purchase')
        |  UNION ALL
        |  SELECT 'any_event', count(DISTINCT user_id) FROM events
        |) ORDER BY segment""".stripMargin,
    "q123_heavy_hitters" ->
      """SELECT token, est FROM (
        |  SELECT tok AS token, count(*) AS est,
        |    row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY tok)
        |WHERE rn <= 10
        |ORDER BY est DESC, token""".stripMargin,
    "q121_crawl_pipeline" -> {
      val html = s"${sqlLit(HtmlA)} || CAST(doc_id AS VARCHAR) || " +
        s"${sqlLit(HtmlB)} || CAST(doc_id AS VARCHAR) || " +
        s"${sqlLit(HtmlC)} || text || ${sqlLit(HtmlD)}"
      s"""WITH pages AS (
         |  SELECT doc_id, $html AS html FROM documents
         |), crawl AS (
         |  SELECT doc_id, html FROM pages
         |  UNION ALL
         |  SELECT doc_id + 1000000, html FROM pages WHERE doc_id % 20 = 0
         |), x AS (
         |  SELECT doc_id, ${graft.text.HtmlExtract.mainTextSql("html")} AS t
         |  FROM crawl
         |), tok AS (
         |  SELECT doc_id, t,
         |    CAST(length(trim(t)) - length(replace(trim(t), ' ', '')) + 1
         |      AS BIGINT) AS toks
         |  FROM x
         |), gated AS (
         |  SELECT * FROM tok WHERE toks >= 50
         |), d AS (
         |  SELECT doc_id, toks FROM (
         |    SELECT doc_id, toks, min(doc_id) OVER (PARTITION BY t) AS rep
         |    FROM gated)
         |  WHERE doc_id = rep
         |)
         |SELECT doc_id % 8 AS shard, count(*) AS n_docs,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
         |  CAST(sum(toks) AS BIGINT) AS sum_tokens
         |FROM d GROUP BY 1 ORDER BY shard""".stripMargin
    },
    "q122_version_cdc" -> {
      def censusSql(where: String) =
        s"""SELECT strftime(o_orderdate, '%Y-%m') AS month,
           |    count(*) AS n_orders,
           |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           |  FROM orders $where GROUP BY 1""".stripMargin
      s"""WITH v0 AS (
         |  ${censusSql("WHERE o_orderdate < TIMESTAMP '1996-12-15'")}
         |), v1 AS (
         |  ${censusSql("WHERE o_orderdate >= TIMESTAMP '1996-06-01'")}
         |)
         |SELECT * FROM (
         |  SELECT coalesce(v1.month, v0.month) AS month,
         |    CASE WHEN v0.month IS NULL THEN 'insert'
         |         WHEN v1.month IS NULL THEN 'delete'
         |         WHEN v0.n_orders <> v1.n_orders
         |           OR v0.sum_price <> v1.sum_price THEN 'update'
         |    END AS change,
         |    v0.n_orders AS before_n_orders,
         |    v0.sum_price AS before_sum_price,
         |    v1.n_orders AS after_n_orders,
         |    v1.sum_price AS after_sum_price
         |  FROM v0 FULL OUTER JOIN v1 ON v0.month = v1.month
         |)
         |WHERE change IS NOT NULL
         |ORDER BY month""".stripMargin
    },
    "q120_split_neardup" ->
      s"""WITH RECURSIVE ${PipelineEntry.NgramPairsCte},
         |edges AS (
         |  SELECT a AS x, b AS y FROM pairs WHERE jaccard >= 0.8
         |  UNION
         |  SELECT b, a FROM pairs WHERE jaccard >= 0.8
         |), nodes AS (
         |  SELECT DISTINCT x AS id FROM edges
         |), r(id, m) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.x, r.m FROM edges e JOIN r ON e.y = r.id
         |), comp AS (
         |  SELECT id AS doc_id, min(m) AS cluster_id FROM r GROUP BY id
         |), assigned AS (
         |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS rep
         |  FROM (SELECT doc_id FROM corpus) d
         |  LEFT JOIN comp c USING (doc_id)
         |)
         |SELECT CASE WHEN rep % 10 < 8 THEN 'train'
         |  WHEN rep % 10 < 9 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs, count(DISTINCT rep) AS n_clusters,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM assigned GROUP BY 1 ORDER BY split""".stripMargin,
    "q118_versioned_table" -> {
      def leg(tag: String, where: String) =
        s"""SELECT '$tag' AS leg, o_orderpriority,
           |  count(*) AS n_orders,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           |FROM orders $where GROUP BY o_orderpriority""".stripMargin
      val pre97 = "WHERE o_orderdate < TIMESTAMP '1997-01-01'"
      s"""${leg("version_1", pre97)}
         |UNION ALL
         |${leg("asof_250", pre97)}
         |UNION ALL
         |${leg("asof_1000", "")}
         |ORDER BY leg, o_orderpriority""".stripMargin
    },
    "q117_snapshot_asof" -> {
      def cutState(n: Int, where: String) =
        s"""SELECT k, u, price, $n AS cut FROM (
           |    SELECT o_custkey AS k, o_orderdate AS u, o_totalprice AS price,
           |      row_number() OVER (PARTITION BY o_custkey
           |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
           |    FROM orders $where) WHERE rn = 1""".stripMargin
      s"""WITH s AS (
         |  ${cutState(1, "WHERE o_orderdate < TIMESTAMP '1996-01-01'")}
         |  UNION ALL
         |  ${cutState(2, "WHERE o_orderdate < TIMESTAMP '1997-01-01'")}
         |  UNION ALL
         |  ${cutState(3, "")}
         |), vers AS (
         |  SELECT k, u, price FROM (
         |    SELECT k, u, price,
         |      lag(u) OVER (PARTITION BY k ORDER BY cut) AS prev_u
         |    FROM s)
         |  WHERE prev_u IS NULL OR u > prev_u
         |), hist AS (
         |  SELECT k, u AS vf,
         |    lead(u) OVER (PARTITION BY k ORDER BY u) AS vt, price
         |  FROM vers
         |)
         |SELECT k, epoch_ms(vf) AS valid_from_ms, epoch_ms(vt) AS valid_to_ms,
         |  price
         |FROM hist
         |WHERE vf <= TIMESTAMP '1997-06-01'
         |  AND (vt IS NULL OR vt > TIMESTAMP '1997-06-01')
         |ORDER BY k""".stripMargin
    },
    "q116_html_extract" -> {
      val html = s"${sqlLit(HtmlA)} || CAST(doc_id AS VARCHAR) || " +
        s"${sqlLit(HtmlB)} || CAST(doc_id AS VARCHAR) || " +
        s"${sqlLit(HtmlC)} || text || ${sqlLit(HtmlD)}"
      s"""WITH h AS (
         |  SELECT doc_id, $html AS html FROM documents
         |), x AS (
         |  SELECT doc_id, ${graft.text.HtmlExtract.mainTextSql("html")} AS main_text
         |  FROM h
         |)
         |SELECT doc_id, main_text,
         |  CAST(length(main_text) AS BIGINT) AS n_chars
         |FROM x ORDER BY doc_id""".stripMargin
    },
    "q115_embedding_int8" ->
      """WITH q AS (
        |  SELECT vec_id, embedding AS e,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
        |  FROM embeddings
        |), c AS (
        |  SELECT vec_id, s,
        |    CASE WHEN s = 0 THEN list_transform(e, x -> 0)
        |      ELSE list_transform(e,
        |        x -> CAST(floor(CAST(x AS DOUBLE) / s + 0.5) AS INT)) END AS codes
        |  FROM q
        |)
        |SELECT vec_id, CAST(len(codes) AS BIGINT) AS n_dims,
        |  CAST(list_sum(codes) AS BIGINT) AS q_sum,
        |  CAST(list_min(codes) AS BIGINT) AS q_min,
        |  CAST(list_max(codes) AS BIGINT) AS q_max,
        |  CAST(floor(s * 1000000.0) AS BIGINT) AS scale_u
        |FROM c ORDER BY vec_id""".stripMargin,
    "q114_sketch_quantiles" ->
      """SELECT column_name, CAST(p AS DOUBLE) AS p, within_bound FROM (VALUES
        |  ('l_discount', 0.1, TRUE), ('l_discount', 0.5, TRUE),
        |  ('l_discount', 0.9, TRUE), ('l_discount', 0.99, TRUE),
        |  ('l_extendedprice', 0.1, TRUE), ('l_extendedprice', 0.5, TRUE),
        |  ('l_extendedprice', 0.9, TRUE), ('l_extendedprice', 0.99, TRUE),
        |  ('l_quantity', 0.1, TRUE), ('l_quantity', 0.5, TRUE),
        |  ('l_quantity', 0.9, TRUE), ('l_quantity', 0.99, TRUE)
        |) AS t(column_name, p, within_bound)
        |ORDER BY column_name, p""".stripMargin,
    "q113_split_leakage_safe" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 20 = 0
        |), c AS (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS rep
        |  FROM corpus
        |)
        |SELECT CASE WHEN rep % 10 < 8 THEN 'train'
        |  WHEN rep % 10 < 9 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs, count(DISTINCT rep) AS n_clusters,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM c GROUP BY 1 ORDER BY split""".stripMargin)
}
