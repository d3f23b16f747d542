package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextHashes
import graft.sources.Tables
import graft.sources.Tables.{load => t}

/** q130+: the web-graph / warehouse-metadata / product-analytics
  * tail — link extraction into a domain graph, integer-exact
  * PageRank and HITS, triangle counting, zone-map data skipping,
  * mojibake repair, column-level lineage, robots.txt honoring,
  * cohort retention, time-range rolling windows, first/last-touch
  * attribution, CDC apply, sliding-window streaming. Same
  * conventions as the earlier entry objects: every fixture is
  * synthesized deterministically from the driver corpus, and every
  * oracle is either generated from the SAME constants as the Spark
  * plan (link fixture, repair table, iteration loops) or restates
  * the semantics in portable SQL.
  */
object WebEntry {

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  // ---------------------------------------------------------------
  // Shared link fixture (q130/q131): every document becomes a page
  // on one of 7 example.com hosts, carrying anchors that exercise
  // the full extraction + canonicalization surface — an absolute
  // https link with uppercase/WWW/default-port/tracking-param noise,
  // two relative links (resolve to the page's own domain), a
  // cross-site http link, a mailto (must drop — no scheme match, no
  // leading slash), and an http link with a NON-default port (the
  // port is excluded from the domain by the host regex). The page
  // column and the oracle's page CTE are BUILT FROM THE SAME token
  // list, so the two engines see byte-identical HTML.
  // ---------------------------------------------------------------
  private sealed trait Tok
  private final case class L(s: String) extends Tok
  private final case class E(c: Column, sql: String) extends Tok

  private def tokCol(toks: Seq[Tok]): Column =
    concat(toks.map { case L(s) => lit(s); case E(c, _) => c }: _*)
  private def tokSql(toks: Seq[Tok]): String =
    toks.map { case L(s) => sqlLit(s); case E(_, q) => q }.mkString(" || ")

  private def mod(k: Long, shift: Long = 0, mult: Long = 1): E =
    E(((col("doc_id") * mult + shift) % k).cast("string"),
      s"CAST((doc_id * $mult + $shift) % $k AS VARCHAR)")

  private val PageToks: Seq[Tok] = Seq(
    L("<html><body><a href=\"/\">Home</a>\n<a class=\"m\" rel=\"nofollow\" " +
      "href=\"https://WWW.Host"), mod(7, 1, 2),
    L(".EXAMPLE.com:443/p/"), mod(50, 3),
    L("?utm_source=feed&id="), mod(13),
    L("\">story "), mod(9),
    L("</a>\n<a href=\"/section/"), mod(5),
    L("\">more</a>\n<a href=\"http://news.portal"), mod(3),
    L(".org/a/"), mod(21),
    L("\">wire</a>\n"),
    E(when(col("doc_id") % 11 === 0,
        lit("<a href=\"mailto:ed@example.com\">mail</a>")).otherwise(lit("")),
      "CASE WHEN doc_id % 11 = 0 THEN " +
        sqlLit("<a href=\"mailto:ed@example.com\">mail</a>") + " ELSE '' END"),
    E(when(col("doc_id") % 13 === 0,
        concat(lit("<a href=\"http://cdn"), (col("doc_id") % 2).cast("string"),
          lit(".assets.net:8080/lib.js\">lib</a>"))).otherwise(lit("")),
      "CASE WHEN doc_id % 13 = 0 THEN " +
        sqlLit("<a href=\"http://cdn") + " || CAST(doc_id % 2 AS VARCHAR) || " +
        sqlLit(".assets.net:8080/lib.js\">lib</a>") + " ELSE '' END"),
    L("</body></html>"))

  private def srcDomainCol: Column =
    concat(lit("host"), (col("doc_id") % 7).cast("string"), lit(".example.com"))
  private val SrcDomainSql =
    "'host' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'"

  /** (doc_id, src_domain, dst_domain) link rows — Spark side. */
  private def linkRows(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{HtmlExtract, Urls}
    val pages = t(s, dir, "documents")
      .select(col("doc_id"), srcDomainCol.as("src_domain"),
        tokCol(PageToks).as("html"))
    val hrefs = pages.select(col("doc_id"), col("src_domain"),
      explode(HtmlExtract.links(col("html"))).as("href"))
    hrefs.select(col("doc_id"), col("src_domain"),
        when(Urls.scheme(col("href")).isin("http", "https"),
          Urls.domain(col("href")))
          .when(col("href").startsWith("/"), col("src_domain"))
          .otherwise(lit(null)).as("dst_domain"))
      .filter(col("dst_domain").isNotNull)
  }

  /** The SAME link rows as a DuckDB CTE body (columns doc_id,
    * src_domain, dst_domain) — generated from the shared tokens.
    */
  private def linkRowsSql: String = {
    val schemeSql =
      "lower(regexp_extract(href, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    val domainSql = "regexp_replace(lower(regexp_extract(href, " +
      "'^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)), '^www\\.', '')"
    s"""SELECT doc_id, src_domain, dst_domain FROM (
       |  SELECT doc_id, src_domain,
       |    CASE WHEN $schemeSql IN ('http', 'https') THEN $domainSql
       |         WHEN href LIKE '/%' THEN src_domain
       |         ELSE NULL END AS dst_domain
       |  FROM (
       |    SELECT doc_id, src_domain,
       |      unnest(${graft.text.HtmlExtract.linksSql("html")}) AS href
       |    FROM (
       |      SELECT doc_id, $SrcDomainSql AS src_domain,
       |        ${tokSql(PageToks)} AS html
       |      FROM documents) pages) l) e
       |WHERE dst_domain IS NOT NULL""".stripMargin
  }

  // ---------------------------------------------------------------
  // q130 — domain-level link graph from raw HTML (the crawl-frontier
  // feed): anchors extracted from the RAW page (nav links are graph
  // signal even though they are text noise), relative hrefs resolved
  // against the page's domain, non-web schemes dropped, and the edge
  // census aggregated on (src_domain, dst_domain). The whole chain
  // before the census is a codegen'd projection + one generator —
  // the only exchange is the final aggregation on short domain
  // strings. The oracle consumes byte-identical HTML (shared token
  // list) through the IDENTICAL regex (HtmlExtract.linksSql).
  // ---------------------------------------------------------------
  private def q130(s: SparkSession, dir: String): DataFrame =
    linkRows(s, dir)
      .groupBy("src_domain", "dst_domain")
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("doc_id")).as("n_pages"))
      .orderBy("src_domain", "dst_domain")

  // ---------------------------------------------------------------
  // q131 — PageRank over the extracted domain graph (crawl
  // prioritization / host-authority quality prior). Integer
  // fixed-point semantics (ops/PageRank.scala) make every iteration
  // exactly reproducible cross-engine: floor division at each step,
  // dangling mass dropped, BIGINT throughout. The oracle's chained
  // CTEs are GENERATED by PageRank.sql from the same iteration
  // structure, over the same shared-token edge fixture.
  // ---------------------------------------------------------------
  private val PrIters = 4

  private def q131(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.PageRank
    val edges = linkRows(s, dir)
      .select(col("src_domain").as("src"), col("dst_domain").as("dst"))
    PageRank.run(edges, "src", "dst", PrIters)
      .orderBy(col("rank_u").desc, col("node"))
  }

  // ---------------------------------------------------------------
  // q230 — k-core peel over the same domain graph (ops/KCore): the
  // dense mutually-linked neighborhood that survives iterated
  // degree-< k removal — the graph-hygiene complement of q131's
  // authority ranks (spam farms and real hubs both sit in deep
  // cores; pendant hosts peel). k = 6 peels the one weakly-linked
  // host and keeps an 11-node core on this fixture. Spark iterates
  // to the fixpoint; the oracle unrolls KcRounds rounds (extra
  // rounds past the fixpoint are no-ops — the peel is monotone).
  // ---------------------------------------------------------------
  private val KcK = 6
  private val KcRounds = 6

  private def q230(s: SparkSession, dir: String): DataFrame = {
    val edges = linkRows(s, dir)
      .select(col("src_domain").as("src"), col("dst_domain").as("dst"))
    graft.ops.KCore.run(edges, "src", "dst", KcK, maxRounds = KcRounds)
      .orderBy("node")
  }

  // ---------------------------------------------------------------
  // q257 — personalized (topic-sensitive) PageRank over the same
  // domain graph (ops/PageRank.runPersonalized, Haveliwala 2002):
  // teleport mass lands only on the CDN seed pair, so ranks
  // measure authority AS SEEN FROM those hosts — the TrustRank
  // shape (seeds = vetted list, spam ranks low). Same integer
  // fixed-point recursion as q131; generated-CTE oracle.
  // ---------------------------------------------------------------
  private def q257(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.PageRank
    val edges = linkRows(s, dir)
      .select(col("src_domain").as("src"), col("dst_domain").as("dst"))
    PageRank.runPersonalized(edges, "src", "dst",
        Seq("cdn0.assets.net", "cdn1.assets.net").toDF("node"), PrIters)
      .orderBy(col("rank_u").desc, col("node"))
  }

  // ---------------------------------------------------------------
  // q253 — multi-source BFS reach over the same domain graph
  // (ops/Bfs.hops): hop distance from a trusted seed set — the
  // TrustRank-style "how far from the whitelist" triage next to
  // q230's core peel and q131's ranks. Level-synchronous expansion
  // labels every node with its true minimum hop count; the oracle
  // unrolls the same rounds (no-ops once the frontier empties).
  // ---------------------------------------------------------------
  private val BfsSeed = "cdn0.assets.net"
  private val BfsRounds = 6

  private def q253(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = linkRows(s, dir)
      .select(col("src_domain").as("src"), col("dst_domain").as("dst"))
    graft.ops.Bfs.hops(edges, "src", "dst",
        Seq(BfsSeed).toDF("node"), maxHops = BfsRounds)
      .orderBy("hops", "node")
  }

  // ---------------------------------------------------------------
  // q238 — neighborhood-Jaccard link prediction over the same graph
  // (ops/LinkPredict): non-adjacent domain pairs ranked by common-
  // neighbor overlap — crawl-frontier candidates next to q131's
  // ranks and q230's cores. Wedge-join candidates (hub pivots
  // capped), true degrees in the denominator, unrounded exact
  // division.
  // ---------------------------------------------------------------
  private def q238(s: SparkSession, dir: String): DataFrame = {
    val edges = linkRows(s, dir)
      .select(col("src_domain").as("src"), col("dst_domain").as("dst"))
    graft.ops.LinkPredict.jaccardCandidates(edges, "src", "dst",
        minCommon = 1, maxPivotDegree = 1000)
      .orderBy("u", "v")
  }

  // ---------------------------------------------------------------
  // q244 — degree assortativity of the domain graph
  // (ops/Assortativity): one-number structural fingerprint (hubs
  // wiring to hubs vs to leaves) from five exact decimal moments
  // over symmetrized edge slots + one fixed double close.
  // ---------------------------------------------------------------
  private def q244(s: SparkSession, dir: String): DataFrame = {
    val edges = linkRows(s, dir)
      .select(col("src_domain").as("src"), col("dst_domain").as("dst"))
    graft.ops.Assortativity.degreeCorrelation(edges, "src", "dst")
  }

  // ---------------------------------------------------------------
  // q132 — zone-map data skipping (ops/ZoneMap): orders written
  // range-sorted on o_orderdate into 12 files + a per-file (lo, hi,
  // rows) manifest; a one-year range read consults the MANIFEST and
  // opens only overlapping files. The in-query require is the
  // operator's point: strictly fewer files scanned than exist
  // (pruning-effective), while the residual scan filter keeps the
  // result correct regardless. The oracle answers from the raw
  // table — pruning must be invisible in the result.
  // ---------------------------------------------------------------
  private def q132(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ZoneMap
    val path = s"target/scratch/q132_zonemap_${Scratch.key(dir)}"
    ZoneMap.write(t(s, dir, "orders"), path, "o_orderdate", 12)
    val from = lit("1995-01-01").cast("timestamp")
    val until = lit("1996-01-01").cast("timestamp")
    val total = Tables.parquet(s, ZoneMap.manifestPath(path)).count()
    val cand = ZoneMap.candidateFiles(s, path, from, until).size
    require(cand >= 1 && cand < total,
      s"zone-map pruning ineffective: $cand of $total files")
    ZoneMap.readRange(s, path, "o_orderdate", from, until)
      .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("long").as("ym"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))
      .orderBy("ym")
  }

  // ---------------------------------------------------------------
  // q133 — mojibake repair (text/Mojibake): each document's text is
  // prefixed with a deterministically-chosen corrupted fragment
  // (UTF-8 re-decoded as cp1252 — computed by the JVM charset
  // machinery at plan-build time, not hand-typed), then repaired by
  // the derived replace chain. The oracle corrupts with the SAME
  // literals (embedded) and repairs with the SAME generated chain
  // (Mojibake.repairSql), so fixture and repair both share one
  // source of truth. was_corrupted exercises the cheap lead-byte
  // pre-filter used for selective repair at corpus scale.
  // ---------------------------------------------------------------
  private val CleanFrags = Seq(
    "café crème – naïve résumé",
    "“Smart ‘quotes’ and … ellipsis",
    "€99 • ±3° — daß",
    "¡Hola! ¿qué? «guillemets»")
  private val MojiFrags = CleanFrags.map(graft.text.Mojibake.mojibake)

  private def q133(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Mojibake
    val frag = MojiFrags.zipWithIndex.tail.foldLeft(
      when(col("doc_id") % 4 === 0, lit(MojiFrags.head))) {
      case (acc, (m, i)) => acc.when(col("doc_id") % 4 === i, lit(m))
    }
    val corrupted = concat(frag, lit(" doc "), col("doc_id").cast("string"),
      lit(" "), col("text"))
    t(s, dir, "documents").select(col("doc_id"),
        Mojibake.repair(corrupted).as("repaired"),
        Mojibake.looksCorrupted(corrupted).as("was_corrupted"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // q134 — column-level lineage (dag/Lineage, the dbt-docs surface):
  // a 4-model chain (two staging views, an aggregate fact, a CASE
  // report) is ANALYZED — never executed — against schema-only
  // views, and every output column maps to the physical source
  // columns it transitively references. Planning is metadata-only,
  // so this costs the same over 100 TB as over 100 rows. The oracle
  // pins the exact edge set: aliases chase through refs, aggregates
  // keep their argument columns, count(*) has no lineage, and the
  // CASE output folds both its branches' references.
  // ---------------------------------------------------------------
  private def q134(s: SparkSession, dir: String): DataFrame = {
    import graft.dag.{Lineage, SqlModels}
    val models = Seq(
      SqlModels.SqlModel("ln_stg_orders",
        "SELECT o_orderkey AS order_key, o_custkey AS cust_key, " +
          "o_totalprice AS price, o_orderdate AS odate " +
          "FROM source('main', 'orders')"),
      SqlModels.SqlModel("ln_stg_customer",
        "SELECT c_custkey AS cust_key, c_name AS cname, c_nationkey " +
          "FROM source('main', 'customer')"),
      SqlModels.SqlModel("ln_fct_cust",
        "SELECT c.cust_key, c.cname, count(*) AS n_orders, " +
          "sum(o.price) AS total_price, max(o.odate) AS last_order " +
          "FROM ref('ln_stg_orders') o JOIN ref('ln_stg_customer') c " +
          "ON o.cust_key = c.cust_key GROUP BY c.cust_key, c.cname"),
      SqlModels.SqlModel("ln_rpt",
        "SELECT cname, total_price, CASE WHEN total_price > 1000 " +
          "THEN 'big' ELSE 'small' END AS bucket FROM ref('ln_fct_cust')"))
    val schemas = Map(
      ("main", "orders") -> t(s, dir, "orders").schema,
      ("main", "customer") -> t(s, dir, "customer").schema)
    val edges = Lineage.columnLineage(s, models, schemas)
    Lineage.toDF(s, edges)
      .select(col("model"), col("column").as("column_name"),
        col("src_table"), col("src_column"))
      .orderBy("model", "column_name", "src_table", "src_column")
  }

  // ---------------------------------------------------------------
  // q135 — robots.txt honoring (text/Robots, RFC 9309): per-domain
  // robots bodies exercising the grammar — a bot-specific group to
  // skip, the `*` group with Disallow prefixes PLUS an Allow
  // override (`Disallow: /tmp` + `Allow: /tmp/x1` — the longest-
  // match election real crawls hit daily) and an anchored wildcard
  // (`Disallow: /articles/*7$`), comments and blank lines, an EMPTY
  // Disallow (allows everything), and a domain with no `*` group at
  // all. Parse shuffles only the domains-sized robots table;
  // enforcement is a broadcast 1:1 rules-array join + an in-
  // projection longest-match fold — zero corpus shuffles. The
  // oracle restates the identical group/window parse, the pattern→
  // regex translation, and the election as a window argmax
  // (prio DESC, allow DESC).
  // ---------------------------------------------------------------
  private val RobotsBodyA = "User-agent: bot\nDisallow: /x\n\n" +
    "User-agent: *\nDisallow: /private\nDisallow: /tmp\n" +
    "Allow: /tmp/x1\nDisallow: /articles/*7$\n" +
    "# comment line\nUser-agent: zeta\nDisallow: /p\n" +
    // RFC group grammar: consecutive UA lines share the rules —
    // this group binds to BOTH 'extra' and '*'
    "User-agent: extra\nUser-agent: *\nDisallow: /p/9"
  private val RobotsBodyB = "User-agent: *\nDisallow:"
  private val RobotsBodyC = "User-agent: other\nDisallow: /"

  private def q135(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Robots
    val urls = t(s, dir, "documents").select(col("doc_id"),
      concat(lit("https://"), srcDomainCol,
        when(col("doc_id") % 4 === 0,
            concat(lit("/private/doc"), col("doc_id").cast("string")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("/p/"), col("doc_id").cast("string")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("/tmp/x"), col("doc_id").cast("string")))
          .otherwise(concat(lit("/articles/"), col("doc_id").cast("string"))))
        .as("url"))
    val domains = urls
      .select(graft.text.Urls.domain(col("url")).as("domain")).distinct()
    val hostNum = regexp_extract(col("domain"), "^host([0-9]+)\\.", 1)
      .cast("long")
    val robots = domains.select(col("domain"),
      when(hostNum % 3 === 0, lit(RobotsBodyA))
        .when(hostNum % 3 === 1, lit(RobotsBodyB))
        .otherwise(lit(RobotsBodyC)).as("body"))
    val allowed = Robots.filterAllowed(urls, "url",
      Robots.rules(robots, "domain", "body"))
    allowed
      .groupBy(graft.text.Urls.domain(col("url")).as("dom"))
      .agg(count(lit(1)).as("n_allowed"),
        sum(col("doc_id")).as("sum_ids"))
      .orderBy("dom")
  }

  // ---------------------------------------------------------------
  // q328 — robots with a CONFIGURED crawler name (text/Robots
  // .rules(agent=...)): the RFC 9309 §2.2.1 most-specific election —
  // a domain with a group naming 'graftbot' (case-insensitive)
  // serves the crawler THOSE rules and its '*' groups are ignored;
  // only unnamed domains fall back to '*'. Same zero-corpus-shuffle
  // enforcement as q135 (the election happens in the domains-sized
  // parse); the oracle extends q135's parse with the identical
  // named-group window election.
  // ---------------------------------------------------------------
  private val UaBodyBot = "User-agent: graftbot\nDisallow: /p/\n" +
    "User-agent: *\nDisallow: /articles/" // named group overrides '*'
  private val UaBodyStar = "User-agent: *\nDisallow: /private/" // fallback
  private val UaBodyMixed = // case-insensitive token + in-group election
    "User-agent: GRAFTBOT\nAllow: /articles/\nDisallow: /\n" +
      "User-agent: other\nDisallow: /x"

  private def q328(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Robots
    val urls = t(s, dir, "documents").select(col("doc_id"),
      concat(lit("https://"), srcDomainCol,
        when(col("doc_id") % 4 === 0,
            concat(lit("/private/doc"), col("doc_id").cast("string")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("/p/"), col("doc_id").cast("string")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("/tmp/x"), col("doc_id").cast("string")))
          .otherwise(concat(lit("/articles/"), col("doc_id").cast("string"))))
        .as("url"))
    val domains = urls
      .select(graft.text.Urls.domain(col("url")).as("domain")).distinct()
    val hostNum = regexp_extract(col("domain"), "^host([0-9]+)\\.", 1)
      .cast("long")
    val robots = domains.select(col("domain"),
      when(hostNum % 3 === 0, lit(UaBodyBot))
        .when(hostNum % 3 === 1, lit(UaBodyStar))
        .otherwise(lit(UaBodyMixed)).as("body"))
    val allowed = Robots.filterAllowed(urls, "url",
      Robots.rules(robots, "domain", "body", agent = Some("graftbot")))
    allowed
      .groupBy(graft.text.Urls.domain(col("url")).as("dom"))
      .agg(count(lit(1)).as("n_allowed"),
        sum(col("doc_id")).as("sum_ids"))
      .orderBy("dom")
  }

  // ---------------------------------------------------------------
  // q136 — anchor-text index (the classic target-page relevance
  // signal: what OTHER pages call a page; search engines weight
  // anchor terms into the target's ranking, and crawl pipelines use
  // them as title priors). (href, text) pairs come out as two
  // position-aligned capture-group arrays, zipped positionally;
  // targets resolve exactly as the q130 graph (relative → own
  // domain, mailto dropped), and the census is one aggregation on
  // (dst_domain, anchor term). The oracle zips with DuckDB's
  // positional parallel unnest over the same generated pattern.
  // ---------------------------------------------------------------
  private def q136(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{HtmlExtract, Urls}
    val pages = t(s, dir, "documents")
      .select(col("doc_id"), srcDomainCol.as("src_domain"),
        tokCol(PageToks).as("html"))
    val pairs = pages
      .withColumn("texts", HtmlExtract.anchorTexts(col("html")))
      .select(col("doc_id"), col("src_domain"),
        posexplode(HtmlExtract.anchorHrefs(col("html"))).as(Seq("i", "href")),
        col("texts"))
      .withColumn("txt", element_at(col("texts"), col("i") + 1))
    pairs.select(col("doc_id"), col("txt"),
        when(Urls.scheme(col("href")).isin("http", "https"),
          Urls.domain(col("href")))
          .when(col("href").startsWith("/"), col("src_domain"))
          .otherwise(lit(null)).as("dst_domain"))
      .filter(col("dst_domain").isNotNull)
      .groupBy("dst_domain", "txt")
      .agg(count(lit(1)).as("n_anchors"),
        countDistinct(col("doc_id")).as("n_pages"))
      .orderBy("dst_domain", "txt")
  }

  // ---------------------------------------------------------------
  // q137 — LM-quality proxy: unseen-bigram ratio vs a trusted
  // reference corpus (text/LmFilter — the engine-portable stand-in
  // for CCNet's KenLM perplexity gate). Reference = English docs
  // outside the scored slice; scored = every 3rd doc ACROSS
  // languages, so the output exhibits exactly the separation the
  // filter exists for (fluent English low, other languages high).
  // Unlike q129's broadcast benchmark probe, the reference gram set
  // is CORPUS-sized: the canonical big-big hash join on 8-byte gram
  // hashes. Oracle restates the q64/q129-proven gram chain at k=2.
  // ---------------------------------------------------------------
  private def q137(s: SparkSession, dir: String): DataFrame = {
    import graft.text.LmFilter
    val docs = t(s, dir, "documents")
    val reference = docs.filter(col("lang") === "en" && col("doc_id") % 3 =!= 0)
    val scored = docs.filter(col("doc_id") % 3 === 0)
    LmFilter.unseenGramRatio(scored, reference, "doc_id", "text", n = 2)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // q138 — WARC ingest round-trip (sources/Warc — the container
  // crawl corpora actually arrive in): q116's synthesized pages are
  // serialized as WARC/1.0 response records (4 shard files, byte-
  // accurate Content-Length), read back with the per-file
  // distributed parser, main-text extracted, and censused per
  // domain. The oracle never sees WARC: it recomputes the census
  // straight from documents through the SAME generated html +
  // extraction chain — so any loss or corruption in the
  // write→parse→extract path breaks parity.
  // ---------------------------------------------------------------
  private def q138(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Warc
    import graft.text.{HtmlExtract, Urls}
    val path = s"target/scratch/q138_warc_${Scratch.key(dir)}"
    val pages = t(s, dir, "documents").select(
      concat(lit("https://"), srcDomainCol, lit("/p/"),
        col("doc_id").cast("string")).as("url"),
      TrainEntry.syntheticHtml(col("doc_id"), col("text")).as("payload"))
    Warc.write(pages, "url", "payload", path, shards = 4)
    Warc.read(s, s"$path/part-*").toDF()
      .select(Urls.domain(col("url")).as("dom"),
        regexp_extract(col("url"), "/p/([0-9]+)$", 1).cast("long").as("doc_id"),
        HtmlExtract.mainText(col("payload")).as("main_text"))
      .groupBy("dom")
      .agg(count(lit(1)).as("n_pages"), sum("doc_id").as("sum_ids"),
        sum(length(col("main_text")).cast("long")).as("sum_chars"))
      .orderBy("dom")
  }

  // ---------------------------------------------------------------
  // q139 — temperature-scaled source mixing (α = 1/2 "alpha
  // sampling", the T5/LLaMA mixture curve): per-source token
  // supplies from one partial-aggregated scan (q31's proven
  // whitespace token count), √-temperature weights computed
  // driver-side (|sources| scalars), the smallest source kept whole
  // as the binding stratum, every other source down-sampled by the
  // deterministic mix30 threshold — the kept corpus never shuffles.
  // α is fixed at 1/2 because IEEE sqrt is correctly rounded: both
  // engines derive bit-identical thresholds, so the KEPT SET itself
  // is oracle-gated, not just its size.
  // ---------------------------------------------------------------
  private def q139(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Sampling
    import graft.text.TextAnalysis
    val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
      TextAnalysis.wsTokenCount(col("text")).as("tok"))
    val supply = Sampling.tokenSupply(d, "source", col("tok"))
    val kept = Sampling.mixtureByTokens(d, "source", "doc_id",
      Sampling.sqrtTemperatureWeights(supply), supply)
    kept.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).cast("long").as("tokens_kept"),
        sum(col("doc_id")).as("sum_ids"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------
  // q140 — crawl FRONTIER construction (the capstone composition the
  // crawl operators exist for): extracted links → (domain, path)
  // targets (relative resolved, non-web dropped, frontier keyed by
  // domain+path as crawlers fetch) → DISTINCT with min-discoverer →
  // minus already-crawled pages (left anti on the crawl log) →
  // minus robots-disallowed prefixes (q135's parser over a 7-row
  // robots table, broadcast anti) → minus blocklisted domains
  // (q127's codegen'd suffix predicate). Three subtractions, zero
  // corpus shuffles beyond the frontier dedup itself. The oracle
  // restates the whole chain: unnest → CASE resolve → GROUP BY →
  // three NOT EXISTS / predicate filters → census.
  // ---------------------------------------------------------------
  // `*` group: Disallow /p (prio 2) + Allow /p/1 (prio 4) + anchored
  // wildcard Disallow /p/*0$ (prio 6) — the longest-match election:
  // /p/10 blocked (6 beats 4), /p/11../p/19 allowed, other /p/N
  // blocked, non-/p open. The graftbot group must NOT apply.
  private val FrontierRobotsBody = "User-agent: graftbot\nDisallow: /\n" +
    "User-agent: *\nDisallow: /p\nAllow: /p/1\nDisallow: /p/*0$"
  private val FrontierOpenBody = "User-agent: *\nDisallow:"
  private val FrontierBlocklist = Seq("news.portal0.org", "assets.net")

  private def q140(s: SparkSession, dir: String): DataFrame = {
    import graft.text.{HtmlExtract, Robots, Urls}
    val docs = t(s, dir, "documents")
    val pages = docs.select(col("doc_id"), srcDomainCol.as("src_domain"),
      tokCol(PageToks).as("html"))
    val hrefs = pages.select(col("doc_id"), col("src_domain"),
      explode(HtmlExtract.links(col("html"))).as("href"))
    val absPath = regexp_extract(col("href"),
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val targets = hrefs.select(col("doc_id"),
        when(Urls.scheme(col("href")).isin("http", "https"),
          Urls.domain(col("href")))
          .when(col("href").startsWith("/"), col("src_domain"))
          .otherwise(lit(null)).as("dom"),
        when(Urls.scheme(col("href")).isin("http", "https"),
          when(absPath === "", lit("/")).otherwise(absPath))
          .otherwise(col("href")).as("path"))
      .filter(col("dom").isNotNull)
    val frontier = targets.groupBy("dom", "path")
      .agg(min(col("doc_id")).as("discoverer"))
    // already-crawled log: every corpus page's own (domain, path)
    val seen = docs.select(srcDomainCol.as("dom"),
      concat(lit("/p/"), col("doc_id").cast("string")).as("path"))
    val unseen = frontier.join(seen, Seq("dom", "path"), "left_anti")
    // robots: example.com hosts with hostnum % 3 == 0 disallow /p
    val hostNum = regexp_extract(col("dom"), "^host([0-9]+)\\.", 1).cast("long")
    val robots = unseen.select(col("dom")).distinct()
      .filter(col("dom").endsWith(".example.com"))
      .select(col("dom").as("domain"),
        when(hostNum % 3 === 0, lit(FrontierRobotsBody))
          .otherwise(lit(FrontierOpenBody)).as("body"))
    val rules = Robots.rules(robots, "domain", "body")
    val okRobots = Robots.filterAllowedPaths(unseen, "dom", "path", rules)
    val open = okRobots.filter(!Urls.blockedBy(col("dom"), FrontierBlocklist))
    open.groupBy("dom")
      .agg(count(lit(1)).as("n_urls"), sum(col("discoverer")).as("sum_disc"))
      .orderBy("dom")
  }

  // ---------------------------------------------------------------
  // q141 — cohort retention (the classic product-analytics matrix:
  // users who first appeared in week W, still active W+k weeks
  // later). Weeks are integer epoch-ms buckets (calendar-free, so
  // both engines bucket identically). Shapes: distinct (user, week)
  // partial-aggregates; the cohort join is keyed on user_id
  // (co-partitioned with the distinct's output); the final matrix is
  // |cohorts|×|offsets| — tiny at any corpus scale.
  // ---------------------------------------------------------------
  val WeekMs = 604800000L

  /** Retention matrix over (user, integer period) pairs: one row per
    * (cohort period, offset) with the distinct users still active.
    * Invariants pinned by RetentionSpec: offset 0 always carries the
    * full cohort, and no offset row can exceed its cohort size.
    */
  def cohortRetention(userPeriods: DataFrame): DataFrame = {
    val userWeeks = userPeriods.select("user_id", "wk").distinct()
    val cohort = userWeeks.groupBy("user_id").agg(min("wk").as("cohort_wk"))
    userWeeks.join(cohort, "user_id")
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  private def q141(s: SparkSession, dir: String): DataFrame =
    cohortRetention(t(s, dir, "events")
        .select(col("user_id"), expr(s"(ts div 1000000) div $WeekMs").as("wk")))
      .orderBy("cohort_wk", "week_offset")

  // ---------------------------------------------------------------
  // q142 — time-RANGE rolling window (7-day per-user rolling count
  // and decimal-exact value sum at every event): the feature-
  // engineering staple rows-based frames (q19/q49) cannot express —
  // the frame is [ms − 7d, ms] by VALUE, so ties and gaps behave
  // correctly. Decimal sums make the result order-independent
  // inside the frame, which is what lets two engines agree exactly.
  // One exchange on user_id; frames evaluate within partitions.
  // ---------------------------------------------------------------
  /** Per-user time-range rolling aggregates over [ms − windowMs, ms]
    * (both ends INCLUSIVE — Spark/SQL RANGE frames; RetentionSpec
    * pins the boundary). Decimal accumulation, surfaced as double.
    */
  def rollingByTime(ev: DataFrame, windowMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ms")
      .rangeBetween(-windowMs, 0)
    ev.select(col("event_id"), col("user_id"), col("ms"),
      count(lit(1)).over(w).as("n_7d"),
      sum(col("value").cast("decimal(18,6)")).over(w)
        .cast("double").as("sum_7d"))
  }

  private def q142(s: SparkSession, dir: String): DataFrame =
    rollingByTime(
      t(s, dir, "events").filter(col("user_id") % 20 === 0)
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000000").as("ms"), col("value")),
      WeekMs)
      .orderBy("user_id", "ms", "event_id")

  // ---------------------------------------------------------------
  // q147 — HITS hubs & authorities over the q130 domain graph
  // (ops/Hits — Kleinberg's companion signal to q131's PageRank):
  // integer fixed-point with divide-first L1 normalization so every
  // iteration is exactly reproducible cross-engine and nothing can
  // overflow at any graph size; per round, two map-combined keyed
  // aggregations + two nodes-sized left joins + broadcast 1-row
  // totals. Oracle generated by the same loop (Hits.sql).
  // ---------------------------------------------------------------
  private val HitsIters = 4

  private def q147(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Hits
    val edges = linkRows(s, dir)
      .select(col("src_domain").as("src"), col("dst_domain").as("dst"))
    Hits.run(edges, "src", "dst", HitsIters)
      .orderBy(col("auth_u").desc, col("hub_u").desc, col("node"))
  }

  // ---------------------------------------------------------------
  // q148 — first/last-touch attribution (ops/Attribution): every
  // purchase credits the first and the last non-purchase event the
  // same user made strictly before it, in (ms, event_id) total
  // order. ONE user-keyed window over the merged stream (running
  // first/last-non-null channel in a ROWS [unbounded, -1] frame) —
  // never a per-conversion join into the touch history. Oracle
  // restates the same frame with IGNORE NULLS window functions.
  // ---------------------------------------------------------------
  private def q148(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Attribution
    val ev = t(s, dir, "events").select(
      col("event_id"), col("user_id"),
      expr("ts div 1000000").as("ms"),
      when(col("event_type") === "purchase", lit(null))
        .otherwise(col("event_type")).as("channel"),
      (col("event_type") === "purchase").as("is_conversion"),
      col("value"))
    Attribution.credit(ev).orderBy("model", "channel")
  }

  // ---------------------------------------------------------------
  // q149 — exact triangle count of the q130 domain graph
  // (ops/Triangles): degree-ordered orientation bounds every
  // out-degree at O(√m), so the wedge join — the only
  // quadratic-risk step — is bounded (Schank–Wagner; the textbook
  // distributed triangle scheme). Oracle generated by Triangles.sql
  // over the identical edge CTE.
  // ---------------------------------------------------------------
  private def q149(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Triangles
    val edges = linkRows(s, dir)
      .select(col("src_domain").as("src"), col("dst_domain").as("dst"))
    Triangles.census(edges, "src", "dst")
  }

  // ---------------------------------------------------------------
  // q151 — CDC apply with deletes (ops/CdcApply — the consuming half
  // of the CDC family: q85/q122 produce changelogs, this merges one
  // in): a synthesized feed carries updates (two seqs for the same
  // key — the later must win), deletes (beating earlier updates on
  // %77 keys), inserts of new keys, and a delete for a key that
  // never existed (no-op). The changelog collapses FIRST (one
  // changes-sized window), then ONE full-outer hash join on the key;
  // the base never sorts or windows. Census by segment; oracle
  // restates collapse + merge + filter.
  // ---------------------------------------------------------------
  private def q151(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.CdcApply
    val base = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        col("c_acctbal").cast("double").as("c_acctbal"))
    val k = col("c_custkey")
    def change(op: String, key: Column, seq: Int, cid: Column,
        seg: Column, bal: Column, filter: Column) =
      base.filter(filter).select(lit(op).as("op"), key.as("c_custkey"),
        lit(seq).as("seq"), cid.as("change_id"),
        seg.as("c_mktsegment"), bal.as("c_acctbal"))
    val changes = Seq(
      change("U", k, 1, k * 10 + 1, col("c_mktsegment"),
        col("c_acctbal") + 100.0, k % 7 === 0),
      change("U", k, 2, k * 10 + 2, col("c_mktsegment"),
        col("c_acctbal") + 250.0, k % 21 === 0),
      change("D", k, 3, k * 10 + 3, col("c_mktsegment"),
        col("c_acctbal"), k % 11 === 0),
      change("I", k + 500000, 1, k * 10 + 4, lit("NEWSEG"),
        lit(42.5), k % 13 === 0),
      change("D", k + 900000, 1, k * 10 + 5, col("c_mktsegment"),
        col("c_acctbal"), k % 17 === 0)).reduce(_ unionByName _)
    CdcApply(base, changes, "c_custkey")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
          .as("sum_bal"),
        sum(col("c_custkey")).as("sum_keys"))
      .orderBy("c_mktsegment")
  }

  // ---------------------------------------------------------------
  // q154 — first-order Markov transition matrix over per-user event
  // journeys (ops/Transitions — "after a click, what happens
  // next?"): one user-keyed lag window in (ms, event_id) total order
  // + one partial-aggregated census; probabilities are
  // round(n/total, 9) of exact BIGINT counts. "(start)" opens each
  // user's path. Oracle restates the identical lag + rollup.
  // ---------------------------------------------------------------
  private def q154(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Transitions
    val ev = t(s, dir, "events").select(col("user_id"),
      expr("ts div 1000000").as("ms"), col("event_id"),
      col("event_type").as("state"))
    Transitions.matrix(ev).orderBy("prev_state", "next_state")
  }

  // ---------------------------------------------------------------
  // q155 — Poisson-bootstrap confidence intervals (ops/Bootstrap —
  // Chamandy 2012's one-pass production bootstrap): per-returnflag
  // revenue totals with p5/p50/p95 error bars from B=100
  // deterministic mix30-seeded Poisson(1) replicates. The ×B
  // explode collapses map-side to |groups|·B cells before the only
  // exchange; percentiles are exact order statistics over B rows
  // per group. Oracle replays the identical hardcoded-CDF weights
  // and decimal sums.
  // ---------------------------------------------------------------
  private def q155(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Bootstrap
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("row_id"),
        col("l_extendedprice"))
    Bootstrap.sumCi(li, "l_returnflag", "row_id", "l_extendedprice")
      .orderBy("l_returnflag", "p")
  }

  // ---------------------------------------------------------------
  // q156 — metric anomaly detection (quality/Anomaly): trailing
  // 7-day z-scores over the per-type daily value series — the
  // monitoring layer above the warehouse aggregates (q14 freshness
  // says data ARRIVED; this says it arrived WRONG). Daily totals
  // quantize to integer cents so window sums/sums-of-squares are
  // exact BIGINT in both engines; z runs an identical double-op
  // sequence on those integers. Window excludes the current day.
  // ---------------------------------------------------------------
  private def q156(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Anomaly
    val ev = t(s, dir, "events").select(col("event_type").as("series"),
      expr("(ts div 1000000) div 86400000").as("day"), col("value"))
    Anomaly.trailingZ(ev).orderBy("series", "day")
  }

  // ---------------------------------------------------------------
  // q157 — salted skew join (Skew.saltedJoin — the manual twin of
  // AQE's skew split, for when statistics lie or the skew is known
  // up front): a third of events collapse onto one hot key, the
  // fact side draws a row-hash salt in [0,8), the dim replicates ×8,
  // and the join keys on (key, salt) so the hot key spreads over 8
  // reducers. The oracle bypasses the mechanism entirely (segment
  // derives from the key), so a lost or doubled row breaks parity.
  // ---------------------------------------------------------------
  private def q157(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Skew
    val fact = t(s, dir, "events").select(
      when(col("user_id") % 3 === 0, lit(0L)).otherwise(col("user_id"))
        .as("uid"),
      col("event_id"), col("value"))
    val dim = fact.select("uid").distinct()
      .withColumn("segment",
        concat(lit("seg-"), pmod(col("uid"), lit(7L)).cast("string")))
    Skew.saltedJoin(fact, dim, "uid", r = 8)
      .groupBy("segment")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"),
        sum(col("uid")).as("sum_uids"))
      .orderBy("segment")
  }

  // ---------------------------------------------------------------
  // q158 — dataset cards (quality/DatasetCard): one summary row per
  // TABLE across the whole warehouse — rows, columns, null cells —
  // each table costing exactly one partial-aggregated scan with the
  // null census folded into one projection. The column inventory is
  // ONE shared constant consumed by both the Spark side and the
  // generated oracle, so schema drift fails loudly in both engines.
  // ---------------------------------------------------------------
  private val CardTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def q158(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.DatasetCard
    DatasetCard.cards(CardTables.map(n => n -> t(s, dir, n)))
      .orderBy("table_name")
  }

  // ---------------------------------------------------------------
  // q159 — referential-integrity sweep (quality/Checks.relationships
  // fanned across the WHOLE warehouse FK graph — q13 checks one
  // pair, this is the audit a deploy gate runs): seven child→parent
  // edges, each one broadcast-anti-join orphan count; parent keysets
  // are dimension-sized so no fact table ever shuffles. Oracle
  // restates each edge as NOT EXISTS.
  // ---------------------------------------------------------------
  private val FkEdges: Seq[(String, String, String, String)] = Seq(
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"))

  private def q159(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Checks
    FkEdges.map { case (child, fk, parent, pk) =>
      val label = s"${child}_$fk"
      Checks.relationships(
        t(s, dir, child).select(col(fk).as(label)), label,
        t(s, dir, parent), pk)
    }.reduce(_ unionByName _).orderBy("column_name")
  }

  // ---------------------------------------------------------------
  // q160 — Hive-style partitioned layout (ops/HivePartitions — the
  // lakehouse layout family member q40/q78/q90/q132 did not cover):
  // events written partitioned by day (dt-directory tree), then a
  // 7-day range read whose filter sits on the partition key, so
  // planning prunes whole directories from the file index (the
  // plan-level assertion lives in PlanShapeSpec; the in-query gate
  // pins the surviving day span). Oracle answers from the raw table
  // — the layout must be invisible in the result.
  // ---------------------------------------------------------------
  private def q160(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.HivePartitions
    val path = s"target/scratch/q160_${Scratch.key(dir)}"
    val ev = t(s, dir, "events")
      .withColumn("day", expr("(ts div 1000000) div 86400000"))
    HivePartitions.write(
      ev.select("event_id", "event_type", "value", "day"), path, "day")
    val d0 = ev.agg(min("day")).head().getLong(0) // bounded scalar
    val pruned = HivePartitions.readRange(s, path, "day",
      lit(d0 + 5), lit(d0 + 12))
    val days = pruned.select(countDistinct(col("day"))).head().getLong(0)
    require(days == 7, s"expected the 7-day span, read $days days")
    pruned.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------
  // q161 — politeness-striped crawl scheduling (the dispatch order
  // q140's frontier feeds into): fetches interleave across hosts —
  // every host's k-th fetch happens before any host's (k+1)-th — by
  // ordering on (per-host rank, host). The rank is a HOST-keyed
  // window (hosts are many, partitions are small); the global
  // interleave is expressed as an ORDER + LIMIT head, which Spark
  // plans as TakeOrdered (per-partition heaps + a k-row driver
  // merge) — never a global sort. Priority within a host is
  // deterministic mix30 (unbiased w.r.t. crawl id order).
  // ---------------------------------------------------------------
  private def q161(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.Sampling
    val frontier = t(s, dir, "documents").select(
      col("doc_id").as("url_id"),
      concat(lit("host"), pmod(col("doc_id"), lit(7L)).cast("string"),
        lit(".example.com")).as("host"))
      .withColumn("pri", Sampling.mix30(col("url_id")))
    val w = Window.partitionBy("host").orderBy("pri", "url_id")
    frontier.withColumn("fetch_round", row_number().over(w))
      .orderBy("fetch_round", "host", "url_id")
      .limit(50)
      .select("fetch_round", "host", "url_id")
  }

  // ---------------------------------------------------------------
  // q162 — deterministic epoch shuffling (the training-order
  // re-permutation between passes over the corpus): shard assignment
  // is mix30(doc_id + epoch·7919) — a pure scan expression, so
  // re-shuffling 100 TB between epochs costs zero data movement
  // until the write — and differs per epoch while each epoch still
  // partitions the corpus completely (the per-shard census sums
  // reconcile against the corpus in the oracle).
  // ---------------------------------------------------------------
  private def q162(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Sampling
    val docs = t(s, dir, "documents").select("doc_id")
    val epochs = Seq(0L, 1L, 2L)
    epochs.map { e =>
      docs.groupBy(
          pmod(Sampling.mix30(col("doc_id") + lit(e * 7919L)), lit(8L))
            .as("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
        .select(lit(e).as("epoch"), col("shard"), col("n_docs"),
          col("sum_ids"))
    }.reduce(_ unionByName _).orderBy("epoch", "shard")
  }

  // ---------------------------------------------------------------
  // q152 — sliding-window aggregation (streaming/Streams.slidingAgg,
  // the overlapping sibling of q21's tumbling windows): 1-hour
  // windows sliding every 15 minutes — each event lands in exactly
  // 4 windows; same code path runs batch and streaming (StreamsSpec
  // pins batch/stream parity), state multiplied by size/slide only.
  // Oracle expands the 4 aligned window starts per event.
  // ---------------------------------------------------------------
  private def q152(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.Streams
    val events = t(s, dir, "events")
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
    Streams.slidingAgg(events).orderBy("w_start_ms", "event_type")
  }

  // ---------------------------------------------------------------
  // q168 — event-sequence pattern with a negative condition
  // (ops/SequencePattern — MATCH_RECOGNIZE-lite CEP): every
  // "view then purchase within 1 h with NO error strictly between"
  // occurrence per user — the absence-over-an-interval guard the
  // funnel (q95) and transition (q154) shapes cannot express. First-B
  // semantics via a user-keyed join + partial-aggregated min; the
  // guard is one user-keyed LEFT ANTI join. Oracle restates the
  // pairing, min, and NOT EXISTS directly.
  // ---------------------------------------------------------------
  private def q168(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.SequencePattern
    val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
      expr("ts div 1000000").as("ms"))
    SequencePattern.firstThenWithout(ev, "user_id", "event_type", "ms",
        a = "view", b = "purchase", guard = "error", windowMs = 3600000L)
      .orderBy("user", "a_ms")
  }

  // ---------------------------------------------------------------
  // q170 — CUSUM changepoint detection (quality/Cusum — Page 1954,
  // the SUSTAINED-shift monitor completing q156's spike z-scores):
  // one-sided upward CUSUM vs the first-7-day baseline, computed via
  // the closed form S_t = P_t − min(0, min≤t P) — two cumulative
  // windows over the metadata-sized series, exact baseline-scaled
  // BIGINT end to end. Fixture triples click volume from day 19742
  // (2024-01-20): the shift accumulates past the alarm within days
  // while unshifted series stay below the slack. Oracle restates the
  // rollup, baseline, and both windows with identical integers.
  // ---------------------------------------------------------------
  private def q170(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Cusum
    val day = expr("(ts div 1000000) div 86400000")
    val ev = t(s, dir, "events").select(col("event_type").as("series"),
      day.as("day"),
      when(col("event_type") === "click" && day >= 19742L,
        col("value") * 3).otherwise(col("value")).as("value"))
    Cusum.upwardShift(ev).orderBy("series", "day")
  }

  // ---------------------------------------------------------------
  // q171 — association-rule mining (ops/Baskets — Agrawal–Srikant
  // support/confidence/lift at the pair level): orders are baskets,
  // parts are items; pairs co-occurring in ≥3 baskets surface with
  // their exact-integer counts and 9dp ratios. Basket-keyed
  // self-join (bounded baskets, the funnel-family contract), the
  // n_ab=1 Zipf bulk dies in the HAVING before any join-back.
  // ---------------------------------------------------------------
  private def q171(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Baskets
    Baskets.pairRules(t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        minCount = 3L)
      .orderBy("item_a", "item_b")
  }

  // ---------------------------------------------------------------
  // q172 — functional-dependency discovery (quality/FunctionalDeps —
  // the profiling primitive behind key detection, next to q158's
  // cards and q159's FK sweep): declared candidate FDs across three
  // tables, each table ONE expand-pass aggregation (no per-candidate
  // rescan); holds ⟺ |distinct lhs| = |distinct (lhs, rhs)|, with
  // the violation mass reported. Candidates mix true keys
  // (c_custkey→c_name) with real violations (o_custkey→o_orderstatus).
  // ---------------------------------------------------------------
  private def q172(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.FunctionalDeps
    def leg(table: String, cands: Seq[(String, String)]) =
      FunctionalDeps.check(t(s, dir, table), cands)
        .select(lit(table).as("table_name"), col("lhs"), col("rhs"),
          col("n_lhs"), col("n_pairs"), col("n_violations"), col("holds"))
    leg("customer", Seq("c_custkey" -> "c_name",
        "c_nationkey" -> "c_mktsegment"))
      .unionByName(leg("orders", Seq("o_orderkey" -> "o_custkey",
        "o_custkey" -> "o_orderstatus")))
      .unionByName(leg("part", Seq("p_partkey" -> "p_brand",
        "p_brand" -> "p_type")))
      .orderBy("table_name", "lhs", "rhs")
  }

  // ---------------------------------------------------------------
  // q173 — mutual information / Theil's U (quality/MutualInfo — the
  // SOFT functional dependency: q172 says whether A determines B
  // exactly, this says how much knowing A explains B, U ∈ [0,1]):
  // one corpus pass per pair builds the contingency cells, marginals
  // come from keyed windows over the CELLS (never the corpus), and
  // the entropy sums follow q93's round-then-decimal-sum discipline
  // so the one-reducer combine is order-independent and ln's 1-ulp
  // cross-engine wobble dies at 12dp. Candidates span an exact FD
  // (U = 1), a near-independent pair (U ≈ 0), and a correlated one.
  // ---------------------------------------------------------------
  private def q173(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.MutualInfo
    MutualInfo.score(t(s, dir, "customer"), "c_nationkey", "c_mktsegment")
      .unionByName(MutualInfo.score(t(s, dir, "orders"),
        "o_orderkey", "o_orderstatus"))
      .unionByName(MutualInfo.score(t(s, dir, "part"), "p_brand", "p_type"))
      .orderBy("lhs")
  }

  // ---------------------------------------------------------------
  // q174 — two-hop reach over the extracted domain graph
  // (ops/TwoHop — friend-of-a-friend counts: link-farm detection /
  // recommendation candidates, completing the local-graph family
  // next to q149's triangles): distinct nodes exactly two directed
  // hops away — through a neighbor, not direct, not self. Same
  // shared link fixture as q130/q131; oracle restates the middle-
  // node join + NOT EXISTS subtraction over linkRowsSql.
  // ---------------------------------------------------------------
  private def q174(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.TwoHop
    TwoHop.reach(linkRows(s, dir), "src_domain", "dst_domain")
      .orderBy("node")
  }

  // ---------------------------------------------------------------
  // q175 — time-weighted average over irregular samples (ops/Twap —
  // the TWAP metrics/finance staple; a plain AVG over-weights
  // bursts): per (event_type, day), each sample's value holds until
  // the next sample, the last to midnight; weights are exact ms ×
  // integer cents so the numerator is an order-independent BIGINT
  // sum. Oracle restates the lead window (same (ms, event_id) tie
  // order) and the division chain.
  // ---------------------------------------------------------------
  private def q175(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Twap
    val ev = t(s, dir, "events").select(col("event_type").as("series"),
      expr("ts div 1000000").as("ms"), col("event_id").as("id"),
      col("value"))
    Twap.daily(ev).orderBy("series", "day")
  }

  // ---------------------------------------------------------------
  // q176 — per-series OLS trend (quality/Trend — the drift
  // quantifier completing the monitoring family: q156 spikes, q170
  // level shifts, this slow drift with a rate and fit quality):
  // closed-form slope/intercept/r² from five EXACT BIGINT moment
  // sums in one partial-aggregated pass (x = day bucket, y = cents).
  // Fixture injects +5%/day drift into the view series: its r²
  // lands near 1 while undrifted series stay noise-flat.
  // ---------------------------------------------------------------
  private def q176(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Trend
    val day = expr("(ts div 1000000) div 86400000")
    // floor-quantize the drifted product to exact cents (q115's
    // idiom): a raw double→DECIMAL cast diverges cross-engine on
    // non-2-decimal doubles (Spark rounds the shortest string
    // rendering, DuckDB the exact binary value)
    val drifted = when(col("event_type") === "view",
      floor(col("value") * (lit(1.0) +
          (day - lit(19723L)).cast("double") * lit(0.05)) * lit(100.0)
        + lit(0.5)) / lit(100.0))
      .otherwise(col("value"))
    val daily = t(s, dir, "events")
      .select(col("event_type").as("series"), day.as("day"),
        drifted.as("v"))
      .groupBy("series", "day")
      .agg(sum(col("v").cast("decimal(18,2)")).as("value"))
    Trend.ols(daily).orderBy("series")
  }

  // ---------------------------------------------------------------
  // q177 — percentile winsorization (quality/Winsorize — clamp the
  // tails instead of dropping rows, between q102's outlier flags
  // and deletion): per event_type, values clamp to the 6dp-rounded
  // exact [p05, p95] (percentile ≡ quantile_cont, q41's proven
  // equivalence; rounding makes a last-ulp interpolation wobble
  // unable to flip a boundary row), clamped census + cents-quantized
  // winsorized mean reported.
  // ---------------------------------------------------------------
  private def q177(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Winsorize
    Winsorize.report(t(s, dir, "events"), "event_type", "value")
      .orderBy("group_key")
  }

  // ---------------------------------------------------------------
  // q178 — join-key skew report (ops/SkewReport — the "should I
  // salt this join" advisor closing the loop on q157's mechanics):
  // q157's hot-key fixture (a third of events collapse onto key 0)
  // re-examined as a census — top-10 keys via TakeOrdered with row
  // shares, the top-1 share ≈ 1/3 being exactly the number you
  // compare against 1/shufflePartitions to size the salt.
  // ---------------------------------------------------------------
  private def q178(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.SkewReport
    val ev = t(s, dir, "events").select(
      when(col("user_id") % 3 === 0, lit(0L)).otherwise(col("user_id"))
        .as("k"))
    SkewReport.topKeys(ev, "k", 10).orderBy("rank")
  }

  // ---------------------------------------------------------------
  // q179 — Cohen's kappa between two filter heuristics
  // (quality/Agreement): rater A = token-count gate (≥50), rater
  // B = stopword-evidence gate (≥3 en-marker hits), per source
  // domain — the chance-corrected agreement you check before
  // swapping one quality gate for another (raw agreement flatters
  // raters that both keep most docs). One partial-aggregated 2×2
  // census per group; oracle restates both raters from the proven
  // SQL twins (WsTokSql / StopHitsSql) and the identical κ chain.
  // ---------------------------------------------------------------
  private def q179(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Agreement
    import graft.text.TextAnalysis
    val docs = t(s, dir, "documents")
      .select(srcDomainCol.as("domain"), col("text"))
    Agreement.kappa(docs,
        TextAnalysis.wsTokenCount(col("text")) >= 50L,
        TextAnalysis.stopwordHits(col("text")) >= 3L,
        "domain")
      .orderBy("group_key")
  }

  // ---------------------------------------------------------------
  // q181 — pre-join profile (ops/JoinProfile — the planning advisor
  // triad's missing member: q178 says whether the key is skewed,
  // q159 counts orphans, this sizes the join BEFORE the shuffle):
  // customer ⋈ orders on custkey — exact output cardinality
  // Σ n_l·n_r from the key CENSUSES (the censuses join, never the
  // tables), bidirectional key containment (customers without
  // orders pull l_key_containment below 1), row match shares.
  // ---------------------------------------------------------------
  private def q181(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.JoinProfile
    JoinProfile.profile(t(s, dir, "customer"), "c_custkey",
      t(s, dir, "orders"), "o_custkey")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q181_join_profile" -> (q181 _),
    "q179_rater_kappa" -> (q179 _),
    "q178_skew_report" -> (q178 _),
    "q177_winsorize" -> (q177 _),
    "q176_trend_ols" -> (q176 _),
    "q174_two_hop" -> (q174 _),
    "q175_twap" -> (q175 _),
    "q173_mutual_info" -> (q173 _),
    "q172_functional_deps" -> (q172 _),
    "q171_basket_rules" -> (q171 _),
    "q170_cusum_shift" -> (q170 _),
    "q168_sequence_pattern" -> (q168 _),
    "q141_cohort_retention" -> (q141 _),
    "q142_rolling_window" -> (q142 _),
    "q147_hits" -> (q147 _),
    "q148_attribution" -> (q148 _),
    "q149_triangles" -> (q149 _),
    "q151_cdc_apply" -> (q151 _),
    "q152_stream_sliding" -> (q152 _),
    "q154_markov_transitions" -> (q154 _),
    "q155_bootstrap_ci" -> (q155 _),
    "q156_metric_anomaly" -> (q156 _),
    "q157_salted_join" -> (q157 _),
    "q158_dataset_card" -> (q158 _),
    "q159_fk_sweep" -> (q159 _),
    "q160_partitioned_layout" -> (q160 _),
    "q161_politeness_schedule" -> (q161 _),
    "q162_epoch_shuffle" -> (q162 _),
    "q136_anchor_text" -> (q136 _),
    "q137_lm_unseen" -> (q137 _),
    "q138_warc_ingest" -> (q138 _),
    "q139_temperature_mix" -> (q139 _),
    "q140_crawl_frontier" -> (q140 _),
    "q130_link_graph" -> (q130 _),
    "q131_pagerank" -> (q131 _),
    "q230_kcore" -> (q230 _),
    "q253_bfs_reach" -> (q253 _),
    "q257_personalized_pagerank" -> (q257 _),
    "q238_link_predict" -> (q238 _),
    "q244_assortativity" -> (q244 _),
    "q132_zone_map" -> (q132 _),
    "q133_mojibake_repair" -> (q133 _),
    "q134_column_lineage" -> (q134 _),
    "q135_robots_filter" -> (q135 _),
    "q328_robots_ua" -> (q328 _))

  def oracleSql: Map[String, String] = Map(
    "q181_join_profile" ->
      """WITH lc AS MATERIALIZED (
        |  SELECT c_custkey AS k, count(*) AS n FROM customer
        |  WHERE c_custkey IS NOT NULL GROUP BY 1
        |), rc AS MATERIALIZED (
        |  SELECT o_custkey AS k, count(*) AS n FROM orders
        |  WHERE o_custkey IS NOT NULL GROUP BY 1
        |), m AS (
        |  SELECT count(*) AS matched_keys,
        |    CAST(coalesce(sum(l.n), 0) AS BIGINT) AS lm,
        |    CAST(coalesce(sum(r.n), 0) AS BIGINT) AS rm,
        |    CAST(coalesce(sum(l.n * r.n), 0) AS BIGINT) AS join_rows
        |  FROM lc l JOIN rc r USING (k)
        |), ls AS (
        |  SELECT count(*) AS l_rows, count(c_custkey) AS l_nonnull
        |  FROM customer
        |), rs AS (
        |  SELECT count(*) AS r_rows, count(o_custkey) AS r_nonnull
        |  FROM orders
        |), ld AS (SELECT count(*) AS l_distinct FROM lc),
        |rd AS (SELECT count(*) AS r_distinct FROM rc)
        |SELECT l_rows, l_distinct, l_rows - l_nonnull AS l_null_rows,
        |  r_rows, r_distinct, r_rows - r_nonnull AS r_null_rows,
        |  matched_keys, join_rows,
        |  round(CAST(matched_keys AS DOUBLE) / CAST(l_distinct AS DOUBLE), 9)
        |    AS l_key_containment,
        |  round(CAST(matched_keys AS DOUBLE) / CAST(r_distinct AS DOUBLE), 9)
        |    AS r_key_containment,
        |  round(CAST(lm AS DOUBLE) / CAST(l_rows AS DOUBLE), 9)
        |    AS l_row_match_share,
        |  round(CAST(rm AS DOUBLE) / CAST(r_rows AS DOUBLE), 9)
        |    AS r_row_match_share
        |FROM m CROSS JOIN ls CROSS JOIN rs CROSS JOIN ld CROSS JOIN rd""".stripMargin,
    "q179_rater_kappa" ->
      s"""WITH r AS (
         |  SELECT $SrcDomainSql AS group_key,
         |    ${graft.PipelineEntry.WsTokSql} >= 50 AS ra,
         |    ${graft.PipelineEntry.StopHitsSql} >= 3 AS rb
         |  FROM documents
         |), c AS (
         |  SELECT group_key, count(*) AS n,
         |    count(*) FILTER (WHERE ra AND rb) AS n11,
         |    count(*) FILTER (WHERE ra AND NOT rb) AS n10,
         |    count(*) FILTER (WHERE NOT ra AND rb) AS n01,
         |    count(*) FILTER (WHERE NOT ra AND NOT rb) AS n00
         |  FROM r GROUP BY 1
         |)
         |SELECT group_key, n, n11, n10, n01, n00,
         |  round(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6)
         |    AS p_observed,
         |  CASE WHEN (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
         |      + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
         |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) < 1.0
         |    THEN round((CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
         |        - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
         |          + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
         |          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
         |      / (1.0 - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
         |          + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
         |          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6)
         |  END AS kappa
         |FROM c ORDER BY group_key""".stripMargin,
    "q178_skew_report" ->
      """WITH c AS (
        |  SELECT CASE WHEN user_id % 3 = 0 THEN 0 ELSE user_id END AS key,
        |    count(*) AS n_rows
        |  FROM events GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(n_rows) AS BIGINT) AS n_total,
        |    count(*) AS n_distinct FROM c
        |), r AS (
        |  SELECT key, n_rows,
        |    CAST(row_number() OVER (ORDER BY n_rows DESC, key) AS INT)
        |      AS rank
        |  FROM c
        |)
        |SELECT rank, key, n_rows,
        |  round(CAST(n_rows AS DOUBLE) / CAST(n_total AS DOUBLE), 9)
        |    AS share,
        |  n_total, n_distinct
        |FROM r CROSS JOIN t WHERE rank <= 10 ORDER BY rank""".stripMargin,
    "q177_winsorize" ->
      """WITH b AS (
        |  SELECT event_type AS g,
        |    round(quantile_cont(value, 0.05), 6) AS lo,
        |    round(quantile_cont(value, 0.95), 6) AS hi
        |  FROM events GROUP BY 1
        |)
        |SELECT e.event_type AS group_key, count(*) AS n,
        |  count(*) FILTER (WHERE value < lo) AS n_clamped_lo,
        |  count(*) FILTER (WHERE value > hi) AS n_clamped_hi,
        |  any_value(lo) AS lo, any_value(hi) AS hi,
        |  round(CAST(sum(CAST(floor(least(greatest(value, lo), hi)
        |      * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |    / count(*) / 100.0, 4) AS mean_winsorized
        |FROM events e JOIN b ON e.event_type = b.g
        |GROUP BY 1 ORDER BY group_key""".stripMargin,
    "q176_trend_ols" ->
      """WITH e AS (
        |  SELECT event_type AS series,
        |    (epoch_ns(ts) // 1000000) // 86400000 AS day,
        |    CASE WHEN event_type = 'view'
        |      THEN floor(value * (1.0 +
        |        CAST((epoch_ns(ts) // 1000000) // 86400000 - 19723
        |          AS DOUBLE) * 0.05) * 100.0 + 0.5) / 100.0
        |      ELSE value END AS v
        |  FROM events
        |), d AS (
        |  SELECT series, day,
        |    CAST(CAST(sum(CAST(v AS DECIMAL(18,2))) AS DECIMAL(18,2)) * 100
        |      AS BIGINT) AS y
        |  FROM e GROUP BY 1, 2
        |), m AS (
        |  SELECT series, count(*) AS n,
        |    CAST(sum(day) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(day * day) AS BIGINT) AS sxx,
        |    CAST(sum(day * y) AS BIGINT) AS sxy,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM d GROUP BY 1
        |)
        |SELECT series, n AS n_days,
        |  CASE WHEN n >= 2 AND CAST(n * sxx - sx * sx AS DOUBLE) > 0
        |    THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0, 6) END AS slope,
        |  CASE WHEN n >= 2 AND CAST(n * sxx - sx * sx AS DOUBLE) > 0
        |    THEN round((CAST(sy AS DOUBLE)
        |      - CAST(n * sxy - sx * sy AS DOUBLE)
        |        / CAST(n * sxx - sx * sx AS DOUBLE) * sx) / n / 100.0, 6)
        |  END AS intercept,
        |  CASE WHEN n >= 2 AND CAST(n * sxx - sx * sx AS DOUBLE) > 0
        |      AND CAST(n * syy - sy * sy AS DOUBLE) > 0
        |    THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
        |      * CAST(n * sxy - sx * sy AS DOUBLE)
        |      / (CAST(n * sxx - sx * sx AS DOUBLE)
        |        * CAST(n * syy - sy * sy AS DOUBLE)), 6) END AS r2
        |FROM m ORDER BY series""".stripMargin,
    "q174_two_hop" ->
      s"""WITH links AS MATERIALIZED (
         |$linkRowsSql
         |), e AS MATERIALIZED (
         |  SELECT DISTINCT src_domain AS src, dst_domain AS dst
         |  FROM links WHERE src_domain <> dst_domain
         |)
         |SELECT a.src AS node, count(DISTINCT b.dst) AS n_two_hop
         |FROM e a JOIN e b ON a.dst = b.src
         |WHERE b.dst <> a.src
         |  AND NOT EXISTS (SELECT 1 FROM e d
         |    WHERE d.src = a.src AND d.dst = b.dst)
         |GROUP BY 1 ORDER BY node""".stripMargin,
    "q175_twap" ->
      """WITH e AS (
        |  SELECT event_type AS series,
        |    epoch_ns(ts) // 1000000 AS ms, event_id AS id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vq,
        |    (epoch_ns(ts) // 1000000) // 86400000 AS day
        |  FROM events
        |), d AS (
        |  SELECT series, day, vq, ms,
        |    coalesce(lead(ms) OVER (PARTITION BY series, day
        |        ORDER BY ms, id),
        |      (day + 1) * 86400000) - ms AS dur
        |  FROM e
        |)
        |SELECT series, day, count(*) AS n_samples,
        |  CAST(sum(dur) AS BIGINT) AS covered_ms,
        |  round(CAST(sum(vq * dur) AS DOUBLE)
        |    / CAST(sum(dur) AS BIGINT) / 100.0, 4) AS twap
        |FROM d GROUP BY 1, 2 ORDER BY series, day""".stripMargin,
    // q173: the identical per-cell term formulas (same association,
    // same 12dp round, DECIMAL(38,12) sums) per leg; raws round at
    // 9dp in the outer select exactly as MutualInfo.score does.
    "q173_mutual_info" -> {
      def leg(table: String, a: String, b: String) =
        s"""SELECT '$a' AS lhs, '$b' AS rhs, n,
           |  round(mi_raw, 9) AS mi, round(ha_raw, 9) AS h_lhs,
           |  round(hb_raw, 9) AS h_rhs,
           |  CASE WHEN round(hb_raw, 9) > 0
           |    THEN round(round(mi_raw, 9) / round(hb_raw, 9), 9)
           |  END AS u
           |FROM (
           |  WITH cells AS MATERIALIZED (
           |    SELECT $a AS av, $b AS bv, count(*) AS n_ab FROM $table
           |    WHERE $a IS NOT NULL AND $b IS NOT NULL GROUP BY 1, 2),
           |  nn AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n FROM cells),
           |  m AS (
           |    SELECT n_ab,
           |      CAST(sum(n_ab) OVER (PARTITION BY av) AS BIGINT) AS n_a,
           |      CAST(sum(n_ab) OVER (PARTITION BY bv) AS BIGINT) AS n_b
           |    FROM cells)
           |  SELECT n,
           |    CAST(sum(CAST(round((CAST(n_ab AS DOUBLE) / n) *
           |      ln((CAST(n_ab AS DOUBLE) * n) /
           |        (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 12)
           |      AS DECIMAL(38,12))) AS DOUBLE) AS mi_raw,
           |    CAST(sum(CAST(round((CAST(n_ab AS DOUBLE) / n_a) *
           |      (CAST(n_a AS DOUBLE) / n) * -ln(CAST(n_a AS DOUBLE) / n), 12)
           |      AS DECIMAL(38,12))) AS DOUBLE) AS ha_raw,
           |    CAST(sum(CAST(round((CAST(n_ab AS DOUBLE) / n_b) *
           |      (CAST(n_b AS DOUBLE) / n) * -ln(CAST(n_b AS DOUBLE) / n), 12)
           |      AS DECIMAL(38,12))) AS DOUBLE) AS hb_raw
           |  FROM m CROSS JOIN nn GROUP BY n
           |)""".stripMargin
      Seq(leg("customer", "c_nationkey", "c_mktsegment"),
        leg("orders", "o_orderkey", "o_orderstatus"),
        leg("part", "p_brand", "p_type"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY lhs")
    },
    "q172_functional_deps" -> {
      def leg(table: String, a: String, b: String) =
        s"""SELECT '$table' AS table_name, '$a' AS lhs, '$b' AS rhs,
           |  (SELECT count(DISTINCT $a) FROM $table) AS n_lhs,
           |  (SELECT count(*) FROM (SELECT DISTINCT $a, $b FROM $table
           |    WHERE $a IS NOT NULL AND $b IS NOT NULL)) AS n_pairs""".stripMargin
      val legs = Seq(
        leg("customer", "c_custkey", "c_name"),
        leg("customer", "c_nationkey", "c_mktsegment"),
        leg("orders", "o_orderkey", "o_custkey"),
        leg("orders", "o_custkey", "o_orderstatus"),
        leg("part", "p_partkey", "p_brand"),
        leg("part", "p_brand", "p_type")).mkString("\nUNION ALL\n")
      s"""SELECT table_name, lhs, rhs, n_lhs, n_pairs,
         |  n_pairs - n_lhs AS n_violations,
         |  n_pairs = n_lhs AS holds
         |FROM (
         |$legs
         |) ORDER BY table_name, lhs, rhs""".stripMargin
    },
    "q171_basket_rules" ->
      """WITH i AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
        |), n AS (
        |  SELECT count(DISTINCT bk) AS nb FROM i
        |), ic AS MATERIALIZED (
        |  SELECT it, count(*) AS n_i FROM i GROUP BY 1
        |), pc AS (
        |  SELECT x.it AS item_a, y.it AS item_b, count(*) AS n_ab
        |  FROM i x JOIN i y ON x.bk = y.bk AND x.it < y.it
        |  GROUP BY 1, 2 HAVING count(*) >= 3
        |)
        |SELECT item_a, item_b, n_ab, a.n_i AS n_a, b.n_i AS n_b,
        |  round(CAST(n_ab AS DOUBLE) / CAST(nb AS DOUBLE), 9) AS support,
        |  round(CAST(n_ab AS DOUBLE) / a.n_i, 9) AS confidence,
        |  round(CAST(n_ab * nb AS DOUBLE) / (a.n_i * b.n_i), 9) AS lift
        |FROM pc JOIN ic a ON pc.item_a = a.it
        |  JOIN ic b ON pc.item_b = b.it CROSS JOIN n
        |ORDER BY item_a, item_b""".stripMargin,
    "q170_cusum_shift" ->
      """WITH e AS (
        |  SELECT event_type AS series,
        |    (epoch_ns(ts) // 1000000) // 86400000 AS day,
        |    CASE WHEN event_type = 'click'
        |           AND (epoch_ns(ts) // 1000000) // 86400000 >= 19742
        |         THEN value * 3 ELSE value END AS value
        |  FROM events
        |), d AS (
        |  SELECT series, day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS tq
        |  FROM e GROUP BY 1, 2
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY series ORDER BY day)
        |    AS rn FROM d
        |), b AS (
        |  SELECT series, CAST(sum(tq) AS BIGINT) AS sum_base,
        |    count(*) AS bdays
        |  FROM r WHERE rn <= 7 GROUP BY 1
        |), m AS (
        |  SELECT r.series, r.day, r.tq, b.bdays,
        |    b.bdays * r.tq - b.sum_base - b.bdays * 100000 AS dd
        |  FROM r JOIN b USING (series) WHERE rn > 7
        |), c AS (
        |  SELECT series, day, tq, bdays,
        |    CAST(sum(dd) OVER w AS BIGINT) AS p
        |  FROM m WINDOW w AS (PARTITION BY series ORDER BY day
        |    ROWS UNBOUNDED PRECEDING)
        |)
        |SELECT series, day,
        |  round(CAST(tq AS DOUBLE) / 100.0, 2) AS total,
        |  round(CAST(p - least(min(p) OVER w, 0) AS DOUBLE)
        |    / (bdays * 100.0), 2) AS s_plus,
        |  (p - least(min(p) OVER w, 0)) > bdays * 200000 AS alarm
        |FROM c WINDOW w AS (PARTITION BY series ORDER BY day
        |  ROWS UNBOUNDED PRECEDING)
        |ORDER BY series, day""".stripMargin,
    "q168_sequence_pattern" ->
      """WITH e AS (
        |  SELECT user_id AS u, event_type AS typ,
        |    epoch_ns(ts) // 1000000 AS ms
        |  FROM events
        |), fb AS (
        |  SELECT a.u, a.ms AS a_ms, min(b.ms) AS b_ms
        |  FROM e a JOIN e b ON a.u = b.u
        |  WHERE a.typ = 'view' AND b.typ = 'purchase'
        |    AND b.ms > a.ms AND b.ms <= a.ms + 3600000
        |  GROUP BY a.u, a.ms
        |)
        |SELECT u AS "user", a_ms, b_ms, b_ms - a_ms AS gap_ms
        |FROM fb
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM e c
        |  WHERE c.u = fb.u AND c.typ = 'error'
        |    AND c.ms > fb.a_ms AND c.ms < fb.b_ms)
        |ORDER BY u, a_ms""".stripMargin,
    "q147_hits" -> {
      val edgesCte = s"SELECT src_domain AS src, dst_domain AS dst " +
        s"FROM ($linkRowsSql) lr"
      s"""SELECT node, hub_u, auth_u FROM (
         |${graft.ops.Hits.sql(edgesCte, HitsIters)}
         |) hs ORDER BY auth_u DESC, hub_u DESC, node""".stripMargin
    },
    "q148_attribution" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000000 AS ms,
        |    CASE WHEN event_type = 'purchase' THEN NULL
        |         ELSE event_type END AS channel,
        |    event_type = 'purchase' AS is_conv, value
        |  FROM events
        |), a AS (
        |  SELECT is_conv, value,
        |    first_value(channel IGNORE NULLS) OVER w AS first_ch,
        |    last_value(channel IGNORE NULLS) OVER w AS last_ch
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |)
        |SELECT model, channel, n_conv, sum_value FROM (
        |  SELECT 'first_touch' AS model,
        |    coalesce(first_ch, '(none)') AS channel, count(*) AS n_conv,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |  FROM a WHERE is_conv GROUP BY 2
        |  UNION ALL
        |  SELECT 'last_touch', coalesce(last_ch, '(none)'), count(*),
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |  FROM a WHERE is_conv GROUP BY 2
        |) ORDER BY model, channel""".stripMargin,
    "q149_triangles" -> {
      val edgesCte = s"SELECT src_domain AS src, dst_domain AS dst " +
        s"FROM ($linkRowsSql) lr"
      graft.ops.Triangles.sql(edgesCte)
    },
    "q151_cdc_apply" ->
      """WITH base AS (
        |  SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS bal
        |  FROM customer
        |), changes AS (
        |  SELECT 'U' AS op, c_custkey AS k, 1 AS seq, c_custkey*10+1 AS cid,
        |    c_mktsegment AS seg, bal + 100.0 AS bal
        |  FROM base WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT 'U', c_custkey, 2, c_custkey*10+2, c_mktsegment, bal + 250.0
        |  FROM base WHERE c_custkey % 21 = 0
        |  UNION ALL
        |  SELECT 'D', c_custkey, 3, c_custkey*10+3, c_mktsegment, bal
        |  FROM base WHERE c_custkey % 11 = 0
        |  UNION ALL
        |  SELECT 'I', c_custkey + 500000, 1, c_custkey*10+4, 'NEWSEG', 42.5
        |  FROM base WHERE c_custkey % 13 = 0
        |  UNION ALL
        |  SELECT 'D', c_custkey + 900000, 1, c_custkey*10+5, c_mktsegment, bal
        |  FROM base WHERE c_custkey % 17 = 0
        |), latest AS (
        |  SELECT op, k, seg, bal FROM (
        |    SELECT *, row_number() OVER (PARTITION BY k
        |      ORDER BY seq DESC, cid DESC) AS rn
        |    FROM changes) WHERE rn = 1
        |), merged AS (
        |  SELECT coalesce(l.k, b.c_custkey) AS k,
        |    CASE WHEN l.op IS NOT NULL THEN l.seg
        |         ELSE b.c_mktsegment END AS seg,
        |    CASE WHEN l.op IS NOT NULL THEN l.bal ELSE b.bal END AS bal
        |  FROM base b FULL OUTER JOIN latest l ON b.c_custkey = l.k
        |  WHERE l.op IS NULL OR l.op <> 'D'
        |)
        |SELECT seg AS c_mktsegment, count(*) AS n_rows,
        |  CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
        |  CAST(sum(k) AS BIGINT) AS sum_keys
        |FROM merged GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,
    "q158_dataset_card" ->
      graft.quality.DatasetCard.sql(CardTables),
    "q161_politeness_schedule" -> {
      import graft.ops.Sampling.mix30Sql
      s"""WITH f AS (
         |  SELECT doc_id AS url_id,
         |    'host' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host,
         |    (${mix30Sql("doc_id")}) AS pri
         |  FROM documents
         |), r AS (
         |  SELECT url_id, host,
         |    CAST(row_number() OVER (PARTITION BY host ORDER BY pri, url_id)
         |      AS INT) AS fetch_round
         |  FROM f
         |)
         |SELECT fetch_round, host, url_id FROM r
         |ORDER BY fetch_round, host, url_id LIMIT 50""".stripMargin
    },
    "q162_epoch_shuffle" -> {
      import graft.ops.Sampling.mix30Sql
      Seq(0L, 1L, 2L).map { e =>
        s"""SELECT CAST($e AS BIGINT) AS epoch,
           |  (${mix30Sql(s"(doc_id + ${e * 7919})")}) % 8 AS shard,
           |  count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
           |FROM documents GROUP BY 2""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY epoch, shard"
    },
    "q159_fk_sweep" -> {
      FkEdges.map { case (child, fk, parent, pk) =>
        s"""SELECT 'relationships' AS check_name,
           |  '${child}_$fk' AS column_name,
           |  CAST(count(*) AS BIGINT) AS violations
           |FROM $child c WHERE c.$fk IS NOT NULL AND NOT EXISTS (
           |  SELECT 1 FROM $parent p WHERE p.$pk = c.$fk)""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY column_name"
    },
    "q160_partitioned_layout" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |    (epoch_ns(ts) // 1000000) // 86400000 AS day
        |  FROM events
        |), lo AS (SELECT min(day) AS d0 FROM e)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM e WHERE day >= (SELECT d0 FROM lo) + 5
        |  AND day < (SELECT d0 FROM lo) + 12
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q156_metric_anomaly" ->
      """WITH e AS (
        |  SELECT event_type AS series,
        |    (epoch_ns(ts) // 1000000) // 86400000 AS day, value
        |  FROM events
        |), d AS (
        |  SELECT series, day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS tq
        |  FROM e GROUP BY 1, 2
        |), st AS (
        |  SELECT series, day, tq,
        |    count(*) OVER w AS n_ref,
        |    CAST(sum(tq) OVER w AS BIGINT) AS s,
        |    CAST(sum(tq * tq) OVER w AS BIGINT) AS ss
        |  FROM d WINDOW w AS (PARTITION BY series ORDER BY day
        |    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
        |), f AS (
        |  SELECT series, day, round(CAST(tq AS DOUBLE) / 100.0, 2) AS total,
        |    n_ref,
        |    CASE WHEN n_ref >= 2 AND
        |      (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |         / n_ref) / (n_ref - 1) > 0
        |    THEN round((CAST(tq AS DOUBLE) - CAST(s AS DOUBLE) / n_ref)
        |      / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |         / n_ref) / (n_ref - 1)), 6)
        |    END AS z
        |  FROM st
        |)
        |SELECT series, day, total, n_ref, z,
        |  CASE WHEN z IS NOT NULL THEN abs(z) > 3.0 END AS is_anomaly
        |FROM f ORDER BY series, day""".stripMargin,
    "q157_salted_join" ->
      """WITH fact AS (
        |  SELECT CASE WHEN user_id % 3 = 0 THEN 0 ELSE user_id END AS uid,
        |    event_id, value
        |  FROM events
        |)
        |SELECT 'seg-' || CAST(uid % 7 AS VARCHAR) AS segment,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  CAST(sum(uid) AS BIGINT) AS sum_uids
        |FROM fact GROUP BY 1 ORDER BY segment""".stripMargin,
    "q155_bootstrap_ci" -> {
      val w = graft.ops.Bootstrap.weightSql("id", "rep")
      s"""WITH e AS (
         |  SELECT l_returnflag AS g, l_orderkey * 10 + l_linenumber AS id,
         |    CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * 1000000 AS BIGINT)
         |      AS vq
         |  FROM lineitem
         |), r AS (
         |  SELECT g, id, vq, rep FROM e, range(0, 100) t(rep)
         |), tt AS (
         |  SELECT g, rep, CAST(SUM(vq * ($w)) AS BIGINT) AS tq
         |  FROM r GROUP BY 1, 2
         |), o AS (
         |  SELECT g, rep, tq,
         |    row_number() OVER (PARTITION BY g ORDER BY tq, rep) AS rn
         |  FROM tt
         |)
         |SELECT g AS l_returnflag,
         |  CAST(CASE rn WHEN 5 THEN 0.05 WHEN 50 THEN 0.5
         |       WHEN 95 THEN 0.95 END AS DOUBLE) AS p,
         |  round(CAST(tq AS DOUBLE) / 1000000.0, 6) AS total
         |FROM o WHERE rn IN (5, 50, 95)
         |ORDER BY l_returnflag, p""".stripMargin
    },
    "q154_markov_transitions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000000 AS ms, event_id,
        |    event_type AS state
        |  FROM events
        |), pr AS (
        |  SELECT coalesce(lag(state) OVER (PARTITION BY user_id
        |      ORDER BY ms, event_id), '(start)') AS prev_state,
        |    state AS next_state
        |  FROM e
        |), c AS (
        |  SELECT prev_state, next_state, count(*) AS n
        |  FROM pr GROUP BY 1, 2
        |), t AS (
        |  SELECT prev_state, CAST(sum(n) AS BIGINT) AS total
        |  FROM c GROUP BY 1
        |)
        |SELECT c.prev_state, c.next_state, n,
        |  round(CAST(n AS DOUBLE) / total, 9) AS p
        |FROM c JOIN t USING (prev_state)
        |ORDER BY prev_state, next_state""".stripMargin,
    "q152_stream_sliding" ->
      """WITH e AS (
        |  SELECT epoch_ns(ts) // 1000000 AS ms, event_type, value FROM events
        |), w AS (
        |  SELECT ((ms // 900000) - k) * 900000 AS w_start_ms,
        |    event_type, value
        |  FROM e, range(0, 4) g(k)
        |)
        |SELECT w_start_ms, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY w_start_ms, event_type""".stripMargin,
    "q141_cohort_retention" ->
      s"""WITH e AS (
         |  SELECT user_id, (epoch_ns(ts) // 1000000) // $WeekMs AS wk
         |  FROM events GROUP BY user_id, wk
         |), c AS (
         |  SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY user_id
         |)
         |SELECT c.cohort_wk, e.wk - c.cohort_wk AS week_offset,
         |  count(DISTINCT e.user_id) AS n_users
         |FROM e JOIN c USING (user_id)
         |GROUP BY 1, 2 ORDER BY cohort_wk, week_offset""".stripMargin,
    "q142_rolling_window" ->
      s"""WITH e AS (
         |  SELECT event_id, user_id, epoch_ns(ts) // 1000000 AS ms, value
         |  FROM events WHERE user_id % 20 = 0
         |)
         |SELECT event_id, user_id, ms,
         |  count(*) OVER w AS n_7d,
         |  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_7d
         |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms
         |  RANGE BETWEEN $WeekMs PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, ms, event_id""".stripMargin,
    "q139_temperature_mix" -> {
      import graft.ops.Sampling.mix30Sql
      // (length(trim)) whitespace token count — q31's proven chain
      val tok = graft.PipelineEntry.WsTokSql
      s"""WITH d AS (
         |  SELECT doc_id, source, $tok AS tok FROM documents
         |), sup AS (
         |  SELECT source, CAST(sum(tok) AS BIGINT) AS t FROM d GROUP BY source
         |), w AS (
         |  SELECT source, t, sqrt(CAST(t AS DOUBLE)) AS wt FROM sup WHERE t > 0
         |), b AS (
         |  SELECT min(t / wt) AS bud FROM w
         |), thr AS (
         |  SELECT source, CAST(floor(bud * wt / t * 1048576) AS BIGINT) AS th
         |  FROM w, b
         |), kept AS (
         |  SELECT d.source, d.doc_id, d.tok
         |  FROM d JOIN thr USING (source)
         |  WHERE (${mix30Sql("doc_id")}) % 1048576 < th
         |)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(tok) AS BIGINT) AS tokens_kept,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM kept GROUP BY source ORDER BY source""".stripMargin
    },
    "q140_crawl_frontier" -> {
      val schemeSql =
        "lower(regexp_extract(href, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
      val domainSql = "regexp_replace(lower(regexp_extract(href, " +
        "'^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)), '^www\\.', '')"
      val absPathSql = "regexp_extract(href, " +
        "'^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)"
      // TRY_CAST: DuckDB does not short-circuit the AND, so the cast
      // also evaluates on non-host domains where the extract is ''
      val hostNumSql =
        "TRY_CAST(regexp_extract(dom, '^host([0-9]+)\\.', 1) AS BIGINT)"
      s"""WITH pages AS (
         |  SELECT doc_id, $SrcDomainSql AS src_domain,
         |    ${tokSql(PageToks)} AS html
         |  FROM documents
         |), l AS (
         |  SELECT doc_id, src_domain,
         |    unnest(${graft.text.HtmlExtract.linksSql("html")}) AS href
         |  FROM pages
         |), tgt AS (
         |  SELECT doc_id,
         |    CASE WHEN $schemeSql IN ('http', 'https') THEN $domainSql
         |         WHEN href LIKE '/%' THEN src_domain
         |         ELSE NULL END AS dom,
         |    CASE WHEN $schemeSql IN ('http', 'https') THEN
         |           CASE WHEN $absPathSql = '' THEN '/' ELSE $absPathSql END
         |         ELSE href END AS path
         |  FROM l
         |), frontier AS (
         |  SELECT dom, path, min(doc_id) AS discoverer
         |  FROM tgt WHERE dom IS NOT NULL GROUP BY dom, path
         |), seen AS (
         |  SELECT $SrcDomainSql AS dom,
         |    '/p/' || CAST(doc_id AS VARCHAR) AS path
         |  FROM documents
         |), unseen AS (
         |  SELECT f.* FROM frontier f WHERE NOT EXISTS (
         |    SELECT 1 FROM seen s WHERE s.dom = f.dom AND s.path = f.path)
         |), ok_robots AS (
         |  -- compiled longest-match election of the fixture body:
         |  -- /p/*0$$ (prio 6, dis) > /p/1 (prio 4, allow) > /p (2, dis)
         |  SELECT u.* FROM unseen u
         |  WHERE NOT (u.dom LIKE '%.example.com'
         |             AND ($hostNumSql) % 3 = 0
         |             AND (regexp_matches(u.path, '^/p/.*0$$')
         |                  OR (starts_with(u.path, '/p')
         |                      AND NOT starts_with(u.path, '/p/1'))))
         |), open_f AS (
         |  SELECT * FROM ok_robots
         |  WHERE NOT (dom = 'news.portal0.org'
         |             OR dom LIKE '%.news.portal0.org'
         |             OR dom = 'assets.net' OR dom LIKE '%.assets.net')
         |)
         |SELECT dom, count(*) AS n_urls,
         |  CAST(sum(discoverer) AS BIGINT) AS sum_disc
         |FROM open_f GROUP BY dom ORDER BY dom""".stripMargin
    },
    "q138_warc_ingest" -> {
      import graft.TrainEntry.{HtmlA, HtmlB, HtmlC, HtmlD}
      val html = s"${sqlLit(HtmlA)} || CAST(doc_id AS VARCHAR) || " +
        s"${sqlLit(HtmlB)} || CAST(doc_id AS VARCHAR) || " +
        s"${sqlLit(HtmlC)} || text || ${sqlLit(HtmlD)}"
      s"""WITH h AS (
         |  SELECT doc_id, $SrcDomainSql AS dom, $html AS html
         |  FROM documents
         |)
         |SELECT dom, count(*) AS n_pages,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
         |  CAST(sum(length(${graft.text.HtmlExtract.mainTextSql("html")}))
         |    AS BIGINT) AS sum_chars
         |FROM h GROUP BY dom ORDER BY dom""".stripMargin
    },
    "q136_anchor_text" -> {
      import graft.text.HtmlExtract
      val schemeSql =
        "lower(regexp_extract(href, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
      val domainSql = "regexp_replace(lower(regexp_extract(href, " +
        "'^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)), '^www\\.', '')"
      s"""WITH pages AS (
         |  SELECT doc_id, $SrcDomainSql AS src_domain,
         |    ${tokSql(PageToks)} AS html
         |  FROM documents
         |), pairs AS (
         |  SELECT doc_id, src_domain,
         |    unnest(${HtmlExtract.anchorsSql("html", 1)}) AS href,
         |    unnest(${HtmlExtract.anchorsSql("html", 2)}) AS txt
         |  FROM pages
         |), e AS (
         |  SELECT doc_id, txt,
         |    CASE WHEN $schemeSql IN ('http', 'https') THEN $domainSql
         |         WHEN href LIKE '/%' THEN src_domain
         |         ELSE NULL END AS dst_domain
         |  FROM pairs
         |)
         |SELECT dst_domain, txt, count(*) AS n_anchors,
         |  count(DISTINCT doc_id) AS n_pages
         |FROM e WHERE dst_domain IS NOT NULL
         |GROUP BY dst_domain, txt ORDER BY dst_domain, txt""".stripMargin
    },
    "q137_lm_unseen" ->
      s"""WITH rg AS (
        |  SELECT DISTINCT unnest(
        |    CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(t)),
        |           i -> t[i] || ' ' || t[i+1]))
        |    END) AS gram
        |  FROM (SELECT ${TextHashes.wordTokensSql("text")} AS t
        |        FROM documents WHERE lang = 'en' AND doc_id % 3 <> 0)
        |), sg AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(t)),
        |           i -> t[i] || ' ' || t[i+1]))
        |    END) AS gram
        |  FROM (SELECT doc_id,
        |          ${TextHashes.wordTokensSql("text")} AS t
        |        FROM documents WHERE doc_id % 3 = 0)
        |)
        |SELECT s.doc_id, count(*) AS n_grams,
        |  count(*) - count(r.gram) AS n_unseen,
        |  round(CAST(count(*) - count(r.gram) AS DOUBLE) / count(*), 9)
        |    AS unseen_ratio
        |FROM sg s LEFT JOIN rg r USING (gram)
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,
    "q130_link_graph" ->
      s"""WITH e AS ($linkRowsSql)
         |SELECT src_domain, dst_domain, count(*) AS n_links,
         |  count(DISTINCT doc_id) AS n_pages
         |FROM e GROUP BY src_domain, dst_domain
         |ORDER BY src_domain, dst_domain""".stripMargin,
    "q131_pagerank" -> {
      val edgesCte = s"SELECT src_domain AS src, dst_domain AS dst " +
        s"FROM ($linkRowsSql) lr"
      s"""SELECT node, rank_u FROM (
         |${graft.ops.PageRank.sql(edgesCte, PrIters)}
         |) pr ORDER BY rank_u DESC, node""".stripMargin
    },
    "q230_kcore" -> {
      val edgesCte = s"SELECT src_domain AS src, dst_domain AS dst " +
        s"FROM ($linkRowsSql) lr"
      s"""SELECT node, core_degree FROM (
         |${graft.ops.KCore.sql(edgesCte, KcK, KcRounds)}
         |) kc ORDER BY node""".stripMargin
    },
    "q253_bfs_reach" -> {
      val edgesCte = s"SELECT src_domain AS src, dst_domain AS dst " +
        s"FROM ($linkRowsSql) lr"
      val seedsCte = s"SELECT '$BfsSeed' AS node"
      s"""SELECT node, hops FROM (
         |${graft.ops.Bfs.sql(edgesCte, seedsCte, BfsRounds)}
         |) b ORDER BY hops, node""".stripMargin
    },
    "q257_personalized_pagerank" -> {
      val edgesCte = s"SELECT src_domain AS src, dst_domain AS dst " +
        s"FROM ($linkRowsSql) lr"
      val seedsCte = "SELECT 'cdn0.assets.net' AS node " +
        "UNION ALL SELECT 'cdn1.assets.net' AS node"
      s"""SELECT node, rank_u FROM (
         |${graft.ops.PageRank.personalizedSql(edgesCte, seedsCte, PrIters)}
         |) pr ORDER BY rank_u DESC, node""".stripMargin
    },
    "q244_assortativity" ->
      s"""WITH raw_e AS (SELECT src_domain AS src, dst_domain AS dst
         |  FROM ($linkRowsSql) lr),
         |dir AS (SELECT src AS a, dst AS b FROM raw_e
         |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
         |sym AS (SELECT DISTINCT a, b FROM
         |  (SELECT a, b FROM dir UNION ALL SELECT b, a FROM dir)),
         |deg AS (SELECT a, CAST(count(*) AS BIGINT) AS d
         |  FROM sym GROUP BY a),
         |slots AS (
         |  SELECT CAST(dx.d AS HUGEINT) AS x, CAST(dy.d AS HUGEINT) AS y
         |  FROM sym JOIN deg dx ON dx.a = sym.a
         |  JOIN deg dy ON dy.a = sym.b
         |), m AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx,
         |    sum(y) AS sy, sum(x * x) AS sxx, sum(y * y) AS syy,
         |    sum(x * y) AS sxy
         |  FROM slots
         |)
         |SELECT CAST(n AS BIGINT) AS n_slots,
         |  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
         |    AND CAST(n * syy - sy * sy AS DOUBLE) > 0 THEN
         |    round(CAST(n * sxy - sx * sy AS DOUBLE)
         |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
         |        * CAST(n * syy - sy * sy AS DOUBLE)), 9) END AS r
         |FROM m""".stripMargin,
    "q238_link_predict" ->
      s"""WITH raw_e AS (SELECT src_domain AS src, dst_domain AS dst
         |  FROM ($linkRowsSql) lr),
         |dir AS (SELECT src AS a, dst AS b FROM raw_e
         |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
         |sym AS (SELECT DISTINCT a, b FROM
         |  (SELECT a, b FROM dir UNION ALL SELECT b, a FROM dir)),
         |deg AS (SELECT a, CAST(count(*) AS BIGINT) AS d
         |  FROM sym GROUP BY a),
         |n AS (SELECT s.a AS w, s.b AS u FROM sym s
         |  JOIN deg ON deg.a = s.a AND deg.d <= 1000),
         |wed AS (SELECT x.u AS u, y.u AS v,
         |    CAST(count(*) AS BIGINT) AS n_common
         |  FROM n x JOIN n y ON x.w = y.w AND x.u < y.u
         |  GROUP BY x.u, y.u),
         |cand AS (SELECT wed.u, wed.v, n_common, du.d AS du, dv.d AS dv
         |  FROM wed JOIN deg du ON du.a = wed.u
         |  JOIN deg dv ON dv.a = wed.v
         |  WHERE n_common >= 1 AND NOT EXISTS
         |    (SELECT 1 FROM sym s WHERE s.a = wed.u AND s.b = wed.v))
         |SELECT u, v, n_common,
         |  CAST(n_common AS DOUBLE) / (du + dv - n_common) AS jaccard
         |FROM cand ORDER BY u, v""".stripMargin,
    "q132_zone_map" ->
      """SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
        |    AS ym,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-01-01'
        |GROUP BY 1 ORDER BY ym""".stripMargin,
    "q133_mojibake_repair" -> {
      val fragSql = MojiFrags.zipWithIndex.map { case (m, i) =>
        s"WHEN doc_id % 4 = $i THEN ${sqlLit(m)}"
      }.mkString("CASE ", " ", " END")
      val corrupted =
        s"$fragSql || ' doc ' || CAST(doc_id AS VARCHAR) || ' ' || text"
      val moji = (m: String) => sqlLit(m)
      s"""WITH c AS (SELECT doc_id, $corrupted AS corrupted FROM documents)
         |SELECT doc_id,
         |  ${graft.text.Mojibake.repairSql("corrupted")} AS repaired,
         |  (instr(corrupted, ${moji("Â")}) > 0 OR
         |   instr(corrupted, ${moji("Ã")}) > 0 OR
         |   instr(corrupted, ${moji("â")}) > 0) AS was_corrupted
         |FROM c ORDER BY doc_id""".stripMargin
    },
    "q134_column_lineage" ->
      """SELECT * FROM (VALUES
        |  ('ln_fct_cust', 'cname', 'main.customer', 'c_name'),
        |  ('ln_fct_cust', 'cust_key', 'main.customer', 'c_custkey'),
        |  ('ln_fct_cust', 'last_order', 'main.orders', 'o_orderdate'),
        |  ('ln_fct_cust', 'total_price', 'main.orders', 'o_totalprice'),
        |  ('ln_rpt', 'bucket', 'main.orders', 'o_totalprice'),
        |  ('ln_rpt', 'cname', 'main.customer', 'c_name'),
        |  ('ln_rpt', 'total_price', 'main.orders', 'o_totalprice'),
        |  ('ln_stg_customer', 'c_nationkey', 'main.customer', 'c_nationkey'),
        |  ('ln_stg_customer', 'cname', 'main.customer', 'c_name'),
        |  ('ln_stg_customer', 'cust_key', 'main.customer', 'c_custkey'),
        |  ('ln_stg_orders', 'cust_key', 'main.orders', 'o_custkey'),
        |  ('ln_stg_orders', 'odate', 'main.orders', 'o_orderdate'),
        |  ('ln_stg_orders', 'order_key', 'main.orders', 'o_orderkey'),
        |  ('ln_stg_orders', 'price', 'main.orders', 'o_totalprice')
        |) AS t(model, column_name, src_table, src_column)
        |ORDER BY model, column_name, src_table, src_column""".stripMargin,
    "q135_robots_filter" -> robotsOracleSql(None,
      bodyA = RobotsBodyA, bodyB = RobotsBodyB, bodyC = RobotsBodyC),
    "q328_robots_ua" -> robotsOracleSql(Some("graftbot"),
      bodyA = UaBodyBot, bodyB = UaBodyStar, bodyC = UaBodyMixed))

  // The q135/q328 URL fixture: one deterministic path per doc_id
  private val RobotsPathCase =
    """CASE WHEN doc_id % 4 = 0 THEN '/private/doc' || CAST(doc_id AS VARCHAR)
      |     WHEN doc_id % 4 = 1 THEN '/p/' || CAST(doc_id AS VARCHAR)
      |     WHEN doc_id % 4 = 2 THEN '/tmp/x' || CAST(doc_id AS VARCHAR)
      |     ELSE '/articles/' || CAST(doc_id AS VARCHAR) END""".stripMargin

  /** DuckDB restatement of the full robots pipeline shared by q135
    * and q328 (their oracles were line-identical up to body text and
    * group election before this factoring): the q135/q328 URL
    * fixture, the hostnum%3 body assignment, Robots.rules' group
    * parse, and the RFC 9309 longest-match enforcement. `agent`
    * mirrors `Robots.rules(agent=...)`: None keeps the '*'-only
    * election; Some(name) adds the per-domain most-specific election
    * (a named group suppresses every '*' group on its domain).
    */
  private def robotsOracleSql(agent: Option[String],
      bodyA: String, bodyB: String, bodyC: String): String = {
    // normal-quoted Scala string: "\\." emits a single backslash
    val hostNumSql =
      "CAST(regexp_extract(dom, '^host([0-9]+)\\.', 1) AS BIGINT) % 3"
    val bodyCase =
      s"""CASE WHEN $hostNumSql = 0
         |       THEN ${sqlLit(bodyA)}
         |     WHEN $hostNumSql = 1
         |       THEN ${sqlLit(bodyB)}
         |     ELSE ${sqlLit(bodyC)} END""".stripMargin
    val namedFlag = agent.fold("") { a =>
      ",\n    MAX(CASE WHEN is_ua AND lower(agent) = " +
        sqlLit(a.toLowerCase(java.util.Locale.ROOT)) +
        "\n        THEN 1 ELSE 0 END)\n      " +
        "OVER (PARTITION BY dom, g) AS named"
    }
    val domFlag = agent.fold("") { _ =>
      ",\n    MAX(CASE WHEN is_ua AND lower(agent) = " +
        sqlLit(agent.get.toLowerCase(java.util.Locale.ROOT)) +
        "\n        THEN 1 ELSE 0 END)\n      " +
        "OVER (PARTITION BY dom) AS dom_named"
    }
    val election = agent.fold("star = 1")(_ =>
      "CASE WHEN dom_named = 1 THEN named = 1 ELSE star = 1 END")
    s"""WITH u AS (
       |  SELECT doc_id, $SrcDomainSql AS dom, $RobotsPathCase AS path
       |  FROM documents
       |), robots AS (
       |  SELECT dom, $bodyCase AS body FROM (SELECT DISTINCT dom FROM u) d
       |), lines AS (
       |  SELECT dom, i AS idx, trim(ls[i]) AS line
       |  FROM (SELECT dom, split(body, chr(10)) AS ls FROM robots),
       |    UNNEST(generate_series(1, len(ls))) AS t(i)
       |), cls AS (
       |  SELECT dom, idx, line,
       |    lower(line) LIKE 'user-agent:%' AS is_ua,
       |    lower(line) LIKE 'disallow:%' AS is_dis,
       |    lower(line) LIKE 'allow:%' AS is_al,
       |    trim(substr(line, 12)) AS agent,
       |    CASE WHEN lower(line) LIKE 'disallow:%'
       |           THEN trim(substr(line, 10))
       |         WHEN lower(line) LIKE 'allow:%'
       |           THEN trim(substr(line, 7)) END AS rule
       |  FROM lines WHERE line <> '' AND line NOT LIKE '#%'
       |), pre AS (
       |  SELECT *, COALESCE(LAG(is_ua) OVER
       |    (PARTITION BY dom ORDER BY idx), FALSE) AS prev_ua
       |  FROM cls
       |), grp AS (
       |  SELECT *, SUM(CASE WHEN is_ua AND NOT prev_ua
       |      THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY dom ORDER BY idx) AS g FROM pre
       |), ag AS (
       |  SELECT *, MAX(CASE WHEN is_ua AND agent = '*'
       |      THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY dom, g) AS star$namedFlag$domFlag
       |  FROM grp
       |), rules AS (
       |  SELECT dom, rule, is_al AS allow FROM ag
       |  WHERE (is_dis OR is_al) AND ($election) AND rule <> ''
       |), rules2 AS (
       |  SELECT dom, allow, length(rule) AS prio,
       |    ${graft.text.Robots.PatternToRegexSql} AS re
       |  FROM rules
       |), cand AS (
       |  SELECT u.doc_id, r.prio, r.allow
       |  FROM u JOIN rules2 r
       |    ON r.dom = u.dom AND regexp_matches(u.path, r.re)
       |), best AS (
       |  SELECT doc_id, allow, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY prio DESC, allow DESC) AS rn
       |  FROM cand
       |), allowed AS (
       |  SELECT u.* FROM u WHERE NOT EXISTS (
       |    SELECT 1 FROM best b
       |    WHERE b.doc_id = u.doc_id AND b.rn = 1 AND NOT b.allow)
       |)
       |SELECT dom, count(*) AS n_allowed, CAST(sum(doc_id) AS BIGINT)
       |    AS sum_ids
       |FROM allowed GROUP BY dom ORDER BY dom""".stripMargin
  }
}
