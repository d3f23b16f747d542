package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables.{load => t}

/** q183+: the round-8 mining/analytics/governance tail — span-level
  * excision, decay scoring, categorical drift, word blocklists, JSON
  * shredding, lexical stats, Welch tests (q183–q189); the mergeable
  * EXACT-state bitmap family and what it unlocks — rollup distincts,
  * joinability discovery, rolling 7-day distincts (q190, q198,
  * q199); pseudonymization, discretization, multivariate OLS, Zipf
  * fits, interval union, LPA communities, weighted quantiles
  * (q191–q197); Benford, contact canonicalization, conversion lags,
  * imputation, partition advice, surrogate keys, CDC column
  * attribution, Neyman allocation (q200–q207); PII
  * inventory/lineage, schema diff, U-shaped attribution, subject
  * access, quality sweeps, dup-factor, pack provenance, state-based
  * rebuilds, SCD3, embedding drift (q208–q218); OHLC, linear
  * interpolation, collocations, Gini, coordinated sampling, merge
  * conflict audits (q219–q224). Same conventions as the earlier
  * entry objects: deterministic fixtures built from the driver
  * corpus, oracles either generated from the SAME constants as the
  * Spark plan or restating the semantics in portable SQL.
  */
object MiningEntry {

  // ---------------------------------------------------------------
  // q183 — exact-substring span excision (dedup/ExactSubstr): every
  // duplicated k-token window loses all occurrences but the global
  // (min doc, min pos) canonical one. One gram groupBy (partial-agg),
  // bounded coverage explode, one per-doc reassembly — no corpus
  // sort, no driver state. The oracle restates the window/row_number
  // form of the same contract.
  // ---------------------------------------------------------------
  private val ExciseK = 5

  private def q183(s: SparkSession, dir: String): DataFrame =
    graft.dedup.ExactSubstr
      .excise(t(s, dir, "documents"), "doc_id", "text", ExciseK)
      .orderBy("doc_id")

  // ---------------------------------------------------------------
  // q184 — recency-weighted engagement score (ops/DecayScore):
  // staircase half-life decay with an integer exponent so the weight
  // is an exact DECIMAL(20,18) and the weighted sum is decimal-exact
  // (order-independent). One broadcast anchor + one keyed groupBy.
  // ---------------------------------------------------------------
  private def q184(s: SparkSession, dir: String): DataFrame =
    graft.ops.DecayScore.score(t(s, dir, "events"), "user_id",
        to_date(timestamp_micros(expr("ts div 1000"))), "value",
        halfLifeDays = 2, maxHalvings = 18)
      .select(col("key").as("user_id"), col("n_events"),
        round(col("raw_sum"), 6).as("raw_sum"),
        round(col("decayed"), 9).as("decayed"))
      .orderBy("user_id")

  // ---------------------------------------------------------------
  // q185 — categorical drift: Pearson chi-square homogeneity test
  // (quality/Drift.chiSquare — PSI's discrete sibling) between the
  // first and second half of the event stream, split at the integer
  // epoch-ns midpoint. Contributions are single-op IEEE chains on
  // integer counts, µ-quantized before the total.
  // ---------------------------------------------------------------
  private def q185(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Drift
    val ev = t(s, dir, "events").select(col("event_type"), col("ts"))
    val bounds = ev.agg(min("ts").as("lo"), max("ts").as("hi"))
    val tagged = ev.crossJoin(broadcast(bounds))
      .withColumn("mid", expr("lo + (hi - lo) div 2"))
    Drift.chiSquare(
        tagged.filter(col("ts") < col("mid")),
        tagged.filter(col("ts") >= col("mid")),
        "event_type")
      .orderBy("category")
  }

  // ---------------------------------------------------------------
  // q186 — C4-style word-blocklist content filter
  // (text/ContentFilter): per (source, min-matching-word) census.
  // The lexicon is a literal array → the match is a codegen'd scan
  // projection; the only exchange is the final small groupBy.
  // ---------------------------------------------------------------
  private val Lexicon = Seq("big", "slow", "vector")

  private def q186(s: SparkSession, dir: String): DataFrame = {
    import graft.text.ContentFilter
    t(s, dir, "documents")
      .select(col("source"),
        coalesce(ContentFilter.firstBlockedWord(col("text"), Lexicon),
          lit("<clean>")).as("blocked_word"))
      .groupBy("source", "blocked_word")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "blocked_word")
  }

  // ---------------------------------------------------------------
  // q187 — semi-structured JSON shredding: schema-driven `from_json`
  // over the events.props payload (nested object + array access,
  // malformed-row tolerance). Every 17th event carries broken JSON —
  // it must surface as n_malformed, never kill the scan. The parse
  // is a codegen'd scan projection; the only exchange is the final
  // 5-row census. Spark-first: from_json with an explicit DDL schema
  // IS the shredding operator — no custom parser.
  // ---------------------------------------------------------------
  private def q187(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events").select(col("event_type"),
      when(pmod(col("event_id"), lit(17)) === 0, lit("{not json"))
        .otherwise(col("props")).as("props"))
    val k = from_json(col("props"), org.apache.spark.sql.types.StructType
        .fromDDL("k INT")).getField("k")
    val nested = concat(lit("{\"a\":{\"b\":"), col("k").cast("string"),
      lit("},\"tags\":["), pmod(col("k"), lit(3)).cast("string"), lit(","),
      pmod(col("k"), lit(5)).cast("string"), lit("]}"))
    raw.withColumn("k", k)
      .withColumn("p", from_json(nested,
        org.apache.spark.sql.types.StructType
          .fromDDL("a STRUCT<b: INT>, tags ARRAY<INT>")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        count(when(col("k").isNull, 1)).as("n_malformed"),
        sum("k").cast("long").as("sum_k"),
        sum(col("p.a.b")).cast("long").as("sum_ab"),
        sum(element_at(col("p.tags"), 2)).cast("long").as("sum_tag2"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------
  // q188 — lexical-diversity profile (text/TextAnalysis.lexicalStats):
  // type-token ratio, hapax count, mean token length per document —
  // the Gopher-family quality signals that need token
  // multiplicities. Two-phase (doc, token) partial agg, never an
  // O(n²) per-row loop.
  // ---------------------------------------------------------------
  private def q188(s: SparkSession, dir: String): DataFrame =
    graft.text.TextAnalysis
      .lexicalStats(t(s, dir, "documents"), "doc_id", "text")
      .select("doc_id", "n_tokens", "n_distinct", "n_hapax", "n_chars",
        "ttr", "mean_len")
      .orderBy("doc_id")

  // ---------------------------------------------------------------
  // q189 — A/B experiment readout (quality/AbTest.welch): Welch
  // t-test of `value` per event_type, arms split by user_id parity.
  // One moments groupBy; the t statistic is a fixed double tree over
  // exact decimal sums.
  // ---------------------------------------------------------------
  private def q189(s: SparkSession, dir: String): DataFrame =
    graft.quality.AbTest.welch(t(s, dir, "events"), "event_type",
        pmod(col("user_id"), lit(2)) === 1, "value")
      .withColumnRenamed("stratum", "event_type")
      .orderBy("event_type")

  // ---------------------------------------------------------------
  // q190 — mergeable EXACT distinct (functions/BitmapAgg): the
  // warehouse bitmap-index trick. Per-(event_type, day) bitmap
  // states stand in for a persisted state table; the rollup merges
  // STATES (bitwise OR), never re-reading a raw row — and the result
  // is exactly count(DISTINCT), which IS the oracle's check. The
  // sum-of-daily-distincts column is deliberately larger than the
  // merged distinct (users recur across days): the non-additivity
  // that makes naive rollups wrong and this state shape necessary.
  // global_distinct merges ALL states once more (1-row broadcast).
  // ---------------------------------------------------------------
  private def q190(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.BitmapAgg._
    val ev = t(s, dir, "events").select(col("event_type"),
      to_date(timestamp_micros(expr("ts div 1000"))).as("day"),
      col("user_id"))
    val states = ev.groupBy("event_type", "day")
      .agg(bitmapBuild(col("user_id")).as("bm"))
    val global = states.agg(
      bitmapCardinality(bitmapMerge(col("bm"))).as("global_distinct"))
    states.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        bitmapCardinality(bitmapMerge(col("bm"))).as("distinct_users"),
        sum(bitmapCardinality(col("bm"))).as("sum_daily_distinct"))
      .crossJoin(broadcast(global))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------
  // q191 — keyed pseudonymization with referential consistency
  // (quality/Pseudonym): customer and orders tokenized on custkey
  // under ONE secret, then joined ON THE TOKENS — per-nation
  // customer/order tallies must equal the raw-key join's (spec pins
  // that identity; the oracle recomputes the same sha256 chain, so
  // parity also proves the token bytes are engine-portable). Token
  // is a codegen'd scan projection; nation dim broadcasts.
  // ---------------------------------------------------------------
  private val PseudoSecret = "graft-export-key"

  private def q191(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Pseudonym
    val cust = t(s, dir, "customer").select(
      Pseudonym.token(PseudoSecret, col("c_custkey")).as("tok"),
      col("c_nationkey"))
    val ord = t(s, dir, "orders").select(
      Pseudonym.token(PseudoSecret, col("o_custkey")).as("tok"),
      lit(1).as("m"))
    val nat = t(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    cust.join(ord, Seq("tok"), "left")
      .groupBy("c_nationkey")
      .agg(countDistinct(col("tok")).as("n_customers"),
        count(col("m")).as("n_orders"),
        min(col("tok")).as("sample_token"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("n_customers"), col("n_orders"),
        col("sample_token"))
      .orderBy("n_name")
  }

  // ---------------------------------------------------------------
  // q192 — equal-frequency discretization (quality/Discretize):
  // quartile-bin l_extendedprice per return flag. Fit = exact
  // percentiles (6dp-rounded, q177's boundary discipline), transform
  // = codegen'd comparison sum against broadcast cuts, census = one
  // partial-aggregated groupBy.
  // ---------------------------------------------------------------
  private def q192(s: SparkSession, dir: String): DataFrame =
    graft.quality.Discretize
      .report(t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
        nBins = 4)
      .orderBy("group_key", "bin")

  // ---------------------------------------------------------------
  // q193 — two-feature OLS (quality/MultiOls): daily revenue per
  // event_type regressed on (day index, event volume) — the
  // controlled-trend readout (does revenue drift AFTER holding
  // volume fixed). Nine exact moments in one partial-aggregated
  // pass; Cramer 3×3 closed form; oracle generated by MultiOls.sql
  // from the same det3 shape.
  // ---------------------------------------------------------------
  private def q193(s: SparkSession, dir: String): DataFrame = {
    val day = expr("(ts div 1000000) div 86400000")
    val daily = t(s, dir, "events")
      .select(col("event_type").as("series"), day.as("day"), col("value"))
      .groupBy("series", "day")
      .agg(count(lit(1)).as("x2"),
        sum(col("value").cast("decimal(18,2)")).as("value"))
      .select(col("series"), (col("day") - lit(19700L)).as("x1"),
        col("x2"), col("value"))
    graft.quality.MultiOls.fit(daily).orderBy("series")
  }

  // ---------------------------------------------------------------
  // q194 — Zipf power-law fit (text/Zipf): ln-ln OLS over each
  // source's top-100 token ranks. Census is one partial-aggregated
  // pass; ranking is a per-source window over VOCABULARY-sized rows
  // (q180's contract); pico-quantized logs make the moments exact.
  // Natural-looking corpus text lands near s≈1.
  // ---------------------------------------------------------------
  private def q194(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val census = t(s, dir, "documents")
      .select(col("source").as("series"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("series", "w")
      .agg(count(lit(1)).as("freq"))
    val ranked = census
      .withColumn("rank", row_number().over(Window.partitionBy("series")
        .orderBy(col("freq").desc, col("w"))))
      .filter(col("rank") <= graft.text.Zipf.DefaultTopR)
      .select("series", "rank", "freq")
    graft.text.Zipf.fit(ranked).orderBy("series")
  }

  // ---------------------------------------------------------------
  // q195 — interval union / coverage (ops/IntervalUnion): each event
  // opens a 10-minute exposure window; per user, overlapping windows
  // merge into islands and coverage is the union length (naive
  // SUM(end-start) double-counts every overlap). Keyed windows only;
  // integer ms throughout.
  // ---------------------------------------------------------------
  private def q195(s: SparkSession, dir: String): DataFrame = {
    val ms = expr("ts div 1000000")
    val iv = t(s, dir, "events").select(col("user_id").as("key"),
      ms.as("start"), (ms + lit(600000L)).as("end"),
      col("event_id").as("id"))
    graft.ops.IntervalUnion.coverage(iv)
      .withColumnRenamed("key", "user_id")
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------
  // q196 — label-propagation communities (ops/LabelProp): vendor
  // cliques over the supplier co-occurrence graph (consecutive line
  // items of one order link their suppliers — an ORDER-keyed lag
  // window, bounded by lines-per-order), restricted to SAME-NATION
  // pairs (cross-border edges dropped via two broadcast dim joins),
  // so the graph is a nation-partitioned forest of vendor clusters
  // at every SF instead of one dense blob. 3 synchronous rounds,
  // (count desc, label asc) election; oracle = the generated
  // LabelProp.sql recurrence over the same edge CTE.
  // ---------------------------------------------------------------
  private def q196(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_orderkey")
      .orderBy("l_linenumber", "l_suppkey")
    val supp = t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val raw = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"))
      .withColumn("prev", lag("l_suppkey", 1).over(w))
      .filter(col("prev").isNotNull && col("prev") =!= col("l_suppkey"))
    val edges = raw
      .join(broadcast(supp).as("sa"), col("prev") === col("sa.s_suppkey"))
      .join(broadcast(supp).as("sb"),
        col("l_suppkey") === col("sb.s_suppkey"))
      .filter(col("sa.s_nationkey") === col("sb.s_nationkey"))
      .select(col("prev").as("src"), col("l_suppkey").as("dst"))
    graft.ops.LabelProp.census(
        graft.ops.LabelProp.run(edges, "src", "dst", iters = 3))
      .orderBy("label")
  }

  // ---------------------------------------------------------------
  // q197 — exact weighted percentiles (quality/WeightedQuantile):
  // per-unit price quartiles per return flag, each line weighted by
  // its quantity. Integer cumulative-weight test, the reported
  // percentile is an untouched data value.
  // ---------------------------------------------------------------
  private def q197(s: SparkSession, dir: String): DataFrame =
    graft.quality.WeightedQuantile.report(
        t(s, dir, "lineitem").select(col("l_returnflag").as("g"),
          col("l_extendedprice").as("v"),
          col("l_quantity").cast("long").as("w"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("id")))
      .withColumnRenamed("g", "l_returnflag")
      .orderBy("l_returnflag")

  // ---------------------------------------------------------------
  // q198 — joinability discovery (sources/Joinability): pairwise
  // value-set containment across nine candidate key columns, built
  // from one bitmap state per column (one scan per table) and a
  // catalog-sized pair matrix — finds the undeclared FK edges
  // (o_custkey⊆c_custkey, l_suppkey⊆s_suppkey, the nationkey
  // triangle) that q181 then profiles. Oracle intersects RAW values,
  // so parity doubles as the hash-collision canary.
  // ---------------------------------------------------------------
  private val JoinCands = Seq(
    "customer" -> "c_custkey", "orders" -> "o_custkey",
    "supplier" -> "s_suppkey", "lineitem" -> "l_suppkey",
    "nation" -> "n_nationkey", "customer" -> "c_nationkey",
    "supplier" -> "s_nationkey", "part" -> "p_partkey",
    "lineitem" -> "l_partkey")

  private def q198(s: SparkSession, dir: String): DataFrame = {
    val tables = JoinCands.map(_._1).distinct
      .map(n => n -> t(s, dir, n)).toMap
    graft.sources.Joinability
      .report(graft.sources.Joinability.states(tables, JoinCands))
      .orderBy("col_a", "col_b")
  }

  // ---------------------------------------------------------------
  // q199 — rolling 7-day EXACT distinct users (functions/BitmapAgg):
  // the classic non-additive rolling metric — per-day distincts
  // cannot sum into a trailing window, so warehouses either rescan
  // 7 days of raw events per day or accept HLL error. Here each day
  // aggregates ONCE into a bitmap state; the trailing window is a
  // range self-join on the DAYS-sized state table plus a state
  // merge — raw events are read exactly once at any window length.
  // ---------------------------------------------------------------
  private def q199(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.BitmapAgg._
    val states = t(s, dir, "events")
      .select(expr("(ts div 1000000) div 86400000").as("day"),
        col("user_id"))
      .groupBy("day").agg(bitmapBuild(col("user_id")).as("bm"))
    val daily = states.select(col("day"),
      bitmapCardinality(col("bm")).as("distinct_1d"))
    val spine = states.select(col("day").as("d"))
    spine.join(states,
        col("day").between(col("d") - 6, col("d")))
      .groupBy(col("d").as("day"))
      .agg(count(lit(1)).as("n_days_present"),
        bitmapCardinality(bitmapMerge(col("bm"))).as("distinct_7d"))
      .join(daily, "day")
      .select("day", "n_days_present", "distinct_1d", "distinct_7d")
      .orderBy("day")
  }

  // ---------------------------------------------------------------
  // q200 — Benford first-digit audit (quality/Benford) over order
  // totals in cents: leading digit from the decimal STRING rendering
  // (no float log10 at query time — the nine expected shares embed
  // as shared round-trip literals), chi-square contributions on
  // exact counts, 9 digits always present.
  // ---------------------------------------------------------------
  private def q200(s: SparkSession, dir: String): DataFrame =
    graft.quality.Benford.audit(
        t(s, dir, "orders").select(
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents")),
        "cents")
      .orderBy("digit")

  // ---------------------------------------------------------------
  // q201 — contact canonicalization (text/Contacts): each customer
  // appears as a gmail variant pair (dotted+tagged vs googlemail)
  // plus an example.org row for even keys; canonical email/phone
  // must merge the pair (n_identities = customers, n_contacts = 2×)
  // while leaving the non-gmail domain un-dotted and flagging the
  // short phone invalid. Pure scan projections; census is the only
  // exchange.
  // ---------------------------------------------------------------
  private def q201(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Contacts
    val cust = t(s, dir, "customer")
    val ck = col("c_custkey")
    val four = lpad(pmod(ck, lit(10000)).cast("string"), 4, "0")
    val a = cust.select(
      concat(lit("john."), ck.cast("string"),
        lit("+promo@GMAIL.com")).as("email"),
      concat(lit("+1 (202) 555-"), four).as("phone"))
    val b = cust.select(
      concat(lit("john"), ck.cast("string"),
        lit("@googlemail.com")).as("email"),
      concat(lit("202.555."), four).as("phone"))
    val c = cust.filter(pmod(ck, lit(2)) === 0).select(
      concat(lit("user."), ck.cast("string"),
        lit("@Example.ORG")).as("email"),
      concat(lit("555-01"),
        lpad(pmod(ck, lit(100)).cast("string"), 2, "0")).as("phone"))
    a.unionByName(b).unionByName(c)
      .select(Contacts.canonicalEmail(col("email")).as("ce"),
        Contacts.canonicalPhone(col("phone")).as("cp"))
      .withColumn("domain", regexp_extract(col("ce"), "@(.+)$", 1))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_contacts"),
        countDistinct(col("ce")).as("n_identities"),
        count(col("cp")).as("n_valid_phones"),
        countDistinct(col("cp")).as("n_distinct_phones"))
      .orderBy("domain")
  }

  // ---------------------------------------------------------------
  // q202 — conversion-lag distribution (ops/SequencePattern +
  // exact percentiles): view→purchase within 24h with no error
  // between (q168's guarded pairing), then p25/p50/p75/p90 of the
  // lag per hour-of-day of the view — the "how fast do morning vs
  // evening visitors convert" readout. Matches are user-keyed joins;
  // the percentile groups are 24 tiny partitions.
  // ---------------------------------------------------------------
  private def q202(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
      expr("ts div 1000000").as("ms"))
    graft.ops.SequencePattern
      .firstThenWithout(ev, "user_id", "event_type", "ms",
        a = "view", b = "purchase", guard = "error",
        windowMs = 86400000L)
      .withColumn("hour", pmod(expr("a_ms div 3600000"), lit(24)))
      .groupBy("hour")
      .agg(count(lit(1)).as("n_conversions"),
        round(element_at(expr(
          "percentile(gap_ms, array(0.25,0.5,0.75,0.9))"), 1), 6).as("p25"),
        round(element_at(expr(
          "percentile(gap_ms, array(0.25,0.5,0.75,0.9))"), 2), 6).as("p50"),
        round(element_at(expr(
          "percentile(gap_ms, array(0.25,0.5,0.75,0.9))"), 3), 6).as("p75"),
        round(element_at(expr(
          "percentile(gap_ms, array(0.25,0.5,0.75,0.9))"), 4), 6).as("p90"))
      .orderBy("hour")
  }

  // ---------------------------------------------------------------
  // q203 — mode imputation (quality/Impute): every 7th customer's
  // nationkey is nulled (simulated extraction holes); the repair
  // fills from the per-mktsegment mode with a (count desc, value
  // asc) election and reports the mode's confidence share.
  // Election = census + groups-sized window; fill = broadcast join.
  // ---------------------------------------------------------------
  private def q203(s: SparkSession, dir: String): DataFrame =
    graft.quality.Impute.modeReport(
        t(s, dir, "customer").select(col("c_mktsegment"),
          when(pmod(col("c_custkey"), lit(7)) === 0, lit(null))
            .otherwise(col("c_nationkey")).as("c_nationkey")),
        "c_mktsegment", "c_nationkey")
      .orderBy("group_key")

  // ---------------------------------------------------------------
  // q204 — partition-key advisor (ops/PartitionAdvisor): one melt
  // scan over five candidate keys for the events table, each landing
  // a different verdict (day ok, event_type too-few, user_id
  // too-many under maxParts=100, a planted hot third skewed, a
  // 98%-null candidate null-heavy). Verdict priority and thresholds
  // restated identically in the SQL twin.
  // ---------------------------------------------------------------
  private def q204(s: SparkSession, dir: String): DataFrame =
    graft.ops.PartitionAdvisor.advise(t(s, dir, "events"),
        Seq(
          "day" -> expr("(ts div 1000000) div 86400000"),
          "event_type" -> col("event_type"),
          "null_demo" -> when(pmod(col("user_id"), lit(50)) === 0,
            col("user_id")),
          "skew_demo" -> when(pmod(col("user_id"), lit(3)) === 0,
            lit(-1L)).otherwise(col("user_id")),
          "user_id" -> col("user_id")),
        minParts = 8, maxParts = 100)
      .orderBy("candidate")

  // ---------------------------------------------------------------
  // q205 — dense surrogate keys (ops/SurrogateKeys): junk dimension
  // over distinct (mktsegment, nationkey) combos. Two-phase
  // range-bucket prefix sum — bit-identical to the naive global
  // row_number the oracle restates, with no single-reducer sort.
  // ---------------------------------------------------------------
  private def q205(s: SparkSession, dir: String): DataFrame =
    graft.ops.SurrogateKeys.assign(
        t(s, dir, "customer").select(col("c_mktsegment"),
          col("c_nationkey")),
        Seq("c_mktsegment", "c_nationkey"),
        bucket = ascii(substring(col("c_mktsegment"), 1, 1)),
        base = 1L)
      .orderBy("surrogate_id")

  // ---------------------------------------------------------------
  // q206 — CDC column attribution (ops/Cdc.columnCensus): of the
  // update rows between two order versions (every 5th status
  // flipped, every 11th price bumped, every 13th deleted, every
  // 17th re-inserted under a new key), how many touched each
  // compared column — the churn audit that picks SCD2 check_cols.
  // One conditional-sum pass over the changes-sized diff.
  // ---------------------------------------------------------------
  private def q206(s: SparkSession, dir: String): DataFrame = {
    val before = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val mutated = t(s, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(13)) =!= 0)
      .select(col("o_orderkey"),
        when(pmod(col("o_orderkey"), lit(5)) === 0, lit("X"))
          .otherwise(col("o_orderstatus")).as("o_orderstatus"),
        when(pmod(col("o_orderkey"), lit(11)) === 0,
          col("o_totalprice") + 10).otherwise(col("o_totalprice"))
          .as("o_totalprice"))
    val appended = t(s, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(17)) === 0)
      .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice"))
    val diffed = graft.ops.Cdc.diff(before,
      mutated.unionByName(appended), Seq("o_orderkey"),
      Seq("o_orderstatus", "o_totalprice"))
    graft.ops.Cdc
      .columnCensus(diffed, Seq("o_orderstatus", "o_totalprice"))
      .orderBy("column_name")
  }

  // ---------------------------------------------------------------
  // q207 — Neyman sample allocation (ops/Sampling.neymanAllocation):
  // split a 1000-row audit budget across event types ∝ N_h·σ_h of
  // the value column — variable strata earn more rows. One exact
  // moments pass; weights quantize before the total so Σw is
  // order-independent.
  // ---------------------------------------------------------------
  private def q207(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.neymanAllocation(
        t(s, dir, "events").select(col("event_type"), col("value")),
        "event_type", "value", budget = 1000L)
      .withColumnRenamed("stratum", "event_type")
      .orderBy("event_type")

  // ---------------------------------------------------------------
  // q208 — PII inventory (text/TextAnalysis.piiInventory): the audit
  // twin of q55's redaction — per source, occurrence totals and doc
  // coverage for emails, long numbers, IPv4s, SSN-shaped strings.
  // Deterministic injections (every 10th/7th/13th doc) make every
  // class fire; the oracle injects the identical text and runs the
  // same RE2 patterns via shared constants.
  // ---------------------------------------------------------------
  private def q208(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    val injected = t(s, dir, "documents")
      .withColumn("text", when(pmod(col("doc_id"), lit(10)) === 0,
        concat(col("text"), lit(" contact: user"),
          col("doc_id").cast("string"),
          lit("@example.com or 5551234567"))).otherwise(col("text")))
      .withColumn("text", when(pmod(col("doc_id"), lit(7)) === 0,
        concat(col("text"), lit(" from 10.0."),
          pmod(col("doc_id"), lit(256)).cast("string"), lit(".1")))
        .otherwise(col("text")))
      .withColumn("text", when(pmod(col("doc_id"), lit(13)) === 0,
        concat(col("text"), lit(" ssn 123-45-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .otherwise(col("text")))
    TextAnalysis.piiInventory(injected, "source", "text")
      .orderBy("source")
  }

  // ---------------------------------------------------------------
  // q209 — schema drift diff (sources/SchemaDiff): the report
  // between q16's introspection and q07/q08's contracts. The after
  // side drops lang, retypes n_chars bigint→int, adds quality — the
  // diff must classify exactly those three (golden oracle, q16's
  // precedent; Spark introspects the REAL runtime schemas).
  // ---------------------------------------------------------------
  private def q209(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
    val drifted = base.drop("lang")
      .withColumn("n_chars", col("n_chars").cast("int"))
      .withColumn("quality", lit(0.5))
    graft.sources.SchemaDiff.diff(s, base.schema, drifted.schema)
      .orderBy("column_name")
  }

  // ---------------------------------------------------------------
  // q210 — position-based multi-touch attribution (ops/Attribution
  // .positionCredit): 40/20/40 U-shape in exact integer basis
  // points (remainder to the first touch, documented), credited
  // value on cents×bp BIGINT sums. view/click/signup touches,
  // purchase conversions, errors excluded.
  // ---------------------------------------------------------------
  private def q210(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .filter(col("event_type")
        .isin("view", "click", "signup", "purchase"))
      .select(col("event_id"), col("user_id"),
        expr("ts div 1000000").as("ms"),
        when(col("event_type") =!= "purchase", col("event_type"))
          .as("channel"),
        (col("event_type") === "purchase").as("is_conversion"),
        col("value"))
    graft.ops.Attribution.positionCredit(ev).orderBy("channel")
  }

  // ---------------------------------------------------------------
  // q211 — data-subject access report (the READ twin of q146's
  // right-to-be-forgotten purge: before deleting a subject you must
  // be able to SHOW them what you hold): per table, the subject's
  // row count and first/last activity, one broadcast-filtered probe
  // per table (the subject key is a 1-row broadcast — no table ever
  // shuffles), unioned into the compliance artifact. Subject =
  // min(user_id), deterministic at any SF.
  // ---------------------------------------------------------------
  private def q211(s: SparkSession, dir: String): DataFrame = {
    val subject = broadcast(t(s, dir, "events")
      .agg(min(col("user_id")).as("sk")))
    def probe(name: String, df: DataFrame, key: org.apache.spark.sql.Column,
        seen: Option[org.apache.spark.sql.Column]): DataFrame =
      df.crossJoin(subject).filter(key === col("sk"))
        .agg(count(lit(1)).as("n_rows"),
          seen.map(c => min(c).cast("string")).getOrElse(
            lit(null).cast("string")).as("first_seen"),
          seen.map(c => max(c).cast("string")).getOrElse(
            lit(null).cast("string")).as("last_seen"))
        .select(lit(name).as("table_name"), col("n_rows"),
          col("first_seen"), col("last_seen"))
    probe("customer", t(s, dir, "customer"), col("c_custkey"), None)
      .unionByName(probe("events", t(s, dir, "events"), col("user_id"),
        Some(to_date(timestamp_micros(expr("ts div 1000"))))))
      .unionByName(probe("orders", t(s, dir, "orders"), col("o_custkey"),
        Some(col("o_orderdate"))))
      .orderBy("table_name")
  }

  // ---------------------------------------------------------------
  // q212 — quality-threshold sweep (the FineWeb-style ablation
  // table that decides q91's cutoff): score every doc ONCE, cross
  // the scores with 10 broadcast thresholds, and census kept
  // docs/tokens per τ — one scan however many thresholds.
  // ---------------------------------------------------------------
  private def q212(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.text.TextAnalysis
    val scored = t(s, dir, "documents").select(
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.wsTokenCount(col("text")).as("toks"))
    val taus = (0 to 9).map(_ / 10.0).toDF("tau")
    scored.crossJoin(broadcast(taus))
      .groupBy("tau")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("q") >= col("tau"), 1)).as("kept_docs"),
        coalesce(sum(when(col("q") >= col("tau"), col("toks"))), lit(0L))
          .as("kept_tokens"),
        round(count(when(col("q") >= col("tau"), 1)).cast("double") /
          count(lit(1)), 6).as("kept_share"))
      .orderBy("tau")
  }

  // ---------------------------------------------------------------
  // q213 — corpus duplication-factor report (the number every dedup
  // paper leads with: cluster-size histogram + how much smaller the
  // canonical corpus is): q38's pair→component chain, then sizes
  // histogram (components-sized aggregates), singleton row from the
  // corpus total, and the global dup factor broadcast onto each row.
  // ---------------------------------------------------------------
  private def q213(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    val corpus = PipelineEntry.nearCorpus(s, dir)
    val cl = Dedup.clusters(Dedup.ngramJaccard(corpus, "doc_id", "text",
      n = 4, tau = 0.8))
    val sizes = cl.groupBy("cluster_id").agg(count(lit(1)).as("size"))
    val hist = sizes.groupBy("size").agg(count(lit(1)).as("n_clusters"))
    val totals = corpus.agg(count(lit(1)).as("n_total"))
      .crossJoin(cl.agg(count(lit(1)).as("n_clustered")))
    val singleton = broadcast(totals).select(lit(1L).as("size"),
      (col("n_total") - col("n_clustered")).as("n_clusters"))
    val full = hist.select(col("size").cast("long").as("size"),
      col("n_clusters")).unionByName(singleton)
    val redundant = full.agg(
      coalesce(sum((col("size") - 1) * col("n_clusters")), lit(0L))
        .as("n_redundant"))
    full.crossJoin(broadcast(totals.select(col("n_total"))))
      .crossJoin(broadcast(redundant))
      .select(col("size"), col("n_clusters"),
        (col("size") * col("n_clusters")).as("n_docs"),
        ((col("size") - 1) * col("n_clusters")).as("n_redundant_docs"),
        round(col("n_total").cast("double") /
          (col("n_total") - col("n_redundant")), 6).as("dup_factor"))
      .orderBy("size")
  }

  // ---------------------------------------------------------------
  // q214 — pack provenance (training-data governance over q82's
  // packing: which sources fill each training sequence, and does any
  // pack end up single-source): spans join back to doc sources,
  // per-(pack, source) token rollup, dominant source by
  // (tokens desc, source asc) over pack-keyed windows.
  // ---------------------------------------------------------------
  private val PackBlock = 512L

  private def q214(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.text.TextAnalysis
    val docs = t(s, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), col("source"),
        TextAnalysis.wsTokenCount(col("text")).as("tok"))
      .filter(col("tok") > 0)
    val spans = graft.ops.Packing.packSpans(
      docs.select("doc_id", "tok"), "doc_id", "tok", PackBlock)
    val perSrc = spans
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("seq_id", "source")
      .agg(sum(col("n_tokens")).as("src_tokens"),
        count(lit(1)).as("n_docs_src"))
    val w = Window.partitionBy("seq_id")
    perSrc
      .withColumn("rn", row_number().over(
        w.orderBy(col("src_tokens").desc, col("source"))))
      .withColumn("pack_tokens", sum(col("src_tokens")).over(w))
      .withColumn("pack_docs", sum(col("n_docs_src")).over(w))
      .withColumn("n_sources", count(lit(1)).over(w))
      .filter(col("rn") === 1)
      .select(col("seq_id"), col("pack_docs").as("n_docs"),
        col("n_sources"), col("source").as("dominant_source"),
        round(col("src_tokens").cast("double") / col("pack_tokens"), 6)
          .as("dominant_share"),
        col("pack_tokens").cast("long").as("n_tokens"))
      .orderBy("seq_id")
  }

  // ---------------------------------------------------------------
  // q215 — state-based selective rebuild (dag/Dag.stateDiff — dbt's
  // `state:modified+` deferral): previous-manifest vs current
  // registry, every model classified new / modified / downstream /
  // unchanged / removed; rebuild = the non-deferred set. Pure
  // metadata; golden oracle from the same fixture constants.
  // ---------------------------------------------------------------
  private def q215(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.dag.Dag.ModelState
    val v1 = Seq(
      ModelState("stg_orders", "h1", Nil),
      ModelState("stg_customers", "h2", Nil),
      ModelState("int_joined", "h3", Seq("stg_orders", "stg_customers")),
      ModelState("mart_revenue", "h4", Seq("int_joined")),
      ModelState("mart_churn", "h5", Seq("stg_customers")),
      ModelState("tmp_scratch", "h6", Nil))
    val v2 = Seq(
      ModelState("stg_orders", "h1", Nil),
      ModelState("stg_customers", "h2_new", Nil),
      ModelState("int_joined", "h3", Seq("stg_orders", "stg_customers")),
      ModelState("mart_revenue", "h4", Seq("int_joined")),
      ModelState("mart_churn", "h5", Seq("stg_customers")),
      ModelState("mart_ltv", "h7", Seq("int_joined")))
    graft.dag.Dag.stateDiff(v1, v2)
      .toDF("model_name", "status")
      .withColumn("rebuild",
        !col("status").isin("unchanged", "removed"))
      .orderBy("model_name")
  }

  // ---------------------------------------------------------------
  // q216 — PII taint through column lineage (dag/Lineage.taint):
  // declare c_name as PII at the source and every model column whose
  // transitive source set touches it flags — the audit that makes
  // redaction actionable downstream. Lineage from ANALYZED plans
  // (metadata only); golden oracle.
  // ---------------------------------------------------------------
  private def q216(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.dag.{Lineage, SqlModels}
    val models = Seq(
      SqlModels.SqlModel("tn_stg_c",
        "SELECT c_custkey AS cust_key, c_name AS cname, " +
          "c_acctbal AS bal FROM source('main', 'customer')"),
      SqlModels.SqlModel("tn_rpt",
        "SELECT cust_key, upper(cname) AS display_name, " +
          "bal * 2 AS bal2 FROM ref('tn_stg_c')"))
    val edges = Lineage.columnLineage(s, models,
      Map(("main", "customer") -> t(s, dir, "customer").schema))
    Lineage.taint(edges, Set(("main.customer", "c_name")))
      .toDF("model", "column_name", "tainted", "pii_sources")
      .orderBy("model", "column_name")
  }

  // ---------------------------------------------------------------
  // q217 — SCD type 3 apply (ops/Snapshot.scd3): one inline step of
  // history (value, prev_value) — every 5th order's status flips so
  // the old value shifts into prev_value, every 13th key is absent
  // from the batch and is retained. One full-outer join; census by
  // (status, prev_value).
  // ---------------------------------------------------------------
  private def q217(s: SparkSession, dir: String): DataFrame = {
    val cur = t(s, dir, "orders")
      .select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"))
      .withColumn("prev_value", lit(null).cast("string"))
    val batch = t(s, dir, "orders")
      .filter(pmod(col("o_orderkey"), lit(13)) =!= 0)
      .select(col("o_orderkey").as("k"),
        when(pmod(col("o_orderkey"), lit(5)) === 0, lit("X"))
          .otherwise(col("o_orderstatus")).as("status"))
    graft.ops.Snapshot.scd3(cur, batch, Seq("k"), "status")
      .groupBy("status", "prev_value")
      .agg(count(lit(1)).as("n_rows"))
      .orderBy("status", "prev_value")
  }

  // ---------------------------------------------------------------
  // q218 — embedding drift monitor (ann/Scaler.drift): even vs odd
  // vector ids, with a planted +0.2 shift on dims 0–4 of the odd
  // half — exactly those five dims must flag at τ=0.05. Two
  // decimal-exact moment passes + a dims-sized join.
  // ---------------------------------------------------------------
  private def q218(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings")
    val a = base.filter(pmod(col("vec_id"), lit(2)) === 0)
    val b = base.filter(pmod(col("vec_id"), lit(2)) === 1)
      .withColumn("embedding", transform(col("embedding"),
        (x, i) => when(i < 5, x.cast("double") + lit(0.2))
          .otherwise(x.cast("double"))))
    graft.ann.Scaler.drift(a, b, "embedding", tau = 0.05)
      .orderBy("pos")
  }

  // ---------------------------------------------------------------
  // q219 — OHLC candles (ops/Ohlc): daily open/high/low/close per
  // event type. Open/close ride lexicographic struct min/max over
  // (ms, id, value) — order-independent and partial-aggregatable,
  // never a sort-based first()/last().
  // ---------------------------------------------------------------
  private def q219(s: SparkSession, dir: String): DataFrame =
    graft.ops.Ohlc.candles(
        t(s, dir, "events").select(col("event_type").as("series"),
          expr("(ts div 1000000) div 86400000").as("bucket"),
          expr("ts div 1000000").as("ms"), col("event_id").as("id"),
          col("value")))
      .orderBy("series", "bucket")

  // ---------------------------------------------------------------
  // q220 — linear-interpolation resampling (ops/GapFill.linearFill —
  // the trend-faithful fill next to q96's LOCF): daily revenue per
  // event type with every 3rd day nulled; interior gaps interpolate
  // proportionally, edges stay null. Four keyed-window lookups + one
  // fixed chain.
  // ---------------------------------------------------------------
  private def q220(s: SparkSession, dir: String): DataFrame = {
    val day = expr("(ts div 1000000) div 86400000")
    val daily = t(s, dir, "events")
      .groupBy(col("event_type").as("series"), day.as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double")
        .as("v0"))
    val bounds = daily.agg(min("day").as("lo"), max("day").as("hi"))
    val days = broadcast(bounds)
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val spine = daily.select("series").distinct().crossJoin(days)
    val gapped = spine.join(daily, Seq("series", "day"), "left")
      .withColumn("v", when(pmod(col("day"), lit(3)) === 0,
        lit(null).cast("double")).otherwise(col("v0")))
      .select("series", "day", "v")
    graft.ops.GapFill.linearFill(gapped, Seq("series"), "day", "v")
      .select(col("series"), col("day"),
        round(col("v_filled"), 6).as("v_filled"),
        col("was_interpolated"))
      .orderBy("series", "day")
  }

  // ---------------------------------------------------------------
  // q221 — collocation extraction via PMI (the association upgrade
  // of q42's raw bigram counts: "strong coffee" scores, "of the"
  // doesn't): adjacent-pair and unigram censuses from one tokenize
  // pass each (partial-aggregated), PMI = ln(N·n_ab/(n_a·n_b)) on
  // exact counts with the q173 round-12dp discipline, support
  // floor n_ab ≥ 5, top-20 by (PMI desc, pair asc) via TakeOrdered.
  // ---------------------------------------------------------------
  private def q221(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = t(s, dir, "documents").select(col("doc_id"),
      split(col("text"), " ").as("ts"))
    val uni = toks.select(explode(col("ts")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
    val pairs = toks
      .select(posexplode(col("ts")).as(Seq("i", "a")), col("ts"))
      .filter(col("i") < size(col("ts")) - 1)
      .select(col("a"), element_at(col("ts"), col("i") + 2).as("b"))
      .filter(length(col("a")) > 0 && length(col("b")) > 0)
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 5)
    val totals = uni.agg(sum(col("n")).as("n_tot"))
    val scored = pairs
      .join(uni.select(col("w").as("a"), col("n").as("n_a")), "a")
      .join(uni.select(col("w").as("b"), col("n").as("n_b")), "b")
      .crossJoin(broadcast(totals))
      .withColumn("pmi", round(log(
        col("n_tot").cast("double") * col("n_ab") /
          (col("n_a").cast("double") * col("n_b"))), 12))
    scored.orderBy(col("pmi").desc, col("a"), col("b")).limit(20)
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        col("pmi"))
  }

  // ---------------------------------------------------------------
  // q222 — revenue concentration per market (quality/Concentration):
  // per-nation Gini over per-customer order revenue in exact cents;
  // customers WITHOUT orders enter at zero via the left join (they
  // ARE the inequality). Keyed rank window + one rollup.
  // ---------------------------------------------------------------
  private def q222(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "customer")
      .join(t(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_nationkey").as("g"), col("c_custkey").as("id"))
      .agg(coalesce(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")), lit(0L)).as("x"))
    graft.quality.Concentration.gini(rev)
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("g") === col("n_nationkey"))
      .select(col("n_name"), col("n_members"), col("total"), col("gini"))
      .orderBy("n_name")
  }

  // ---------------------------------------------------------------
  // q223 — coordinated sampling (Sampling.mix30 as the shared
  // coin): customer AND orders sample on the SAME hash of the SAME
  // key, so the 10% sample is join-closed — every sampled order
  // finds its sampled customer (n_orphan_orders must be 0, and the
  // report makes the invariant visible). Independent per-table
  // coins would orphan ~90% of sampled orders and silently wreck
  // sample-based join analytics.
  // ---------------------------------------------------------------
  private def q223(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Sampling.mix30
    def keep(k: org.apache.spark.sql.Column) =
      pmod(mix30(k), lit(100L)) < 10
    val custS = t(s, dir, "customer").filter(keep(col("c_custkey")))
    val ordS = t(s, dir, "orders").filter(keep(col("o_custkey")))
    val joined = custS.join(ordS, col("c_custkey") === col("o_custkey"))
    val orphans = ordS.join(custS,
      col("o_custkey") === col("c_custkey"), "left_anti")
    custS.agg(count(lit(1)).as("n_customers_sampled"))
      .crossJoin(ordS.agg(count(lit(1)).as("n_orders_sampled")))
      .crossJoin(joined.agg(count(lit(1)).as("n_joined"),
        coalesce(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")), lit(0L)).as("revenue_cents")))
      .crossJoin(orphans.agg(count(lit(1)).as("n_orphan_orders")))
  }

  // ---------------------------------------------------------------
  // q224 — pre-merge batch conflict audit (the hygiene gate in
  // front of q05's merge contract, which requires one row per key):
  // classify keys unique / redundant_dup (identical payload — safe
  // to dedup) / conflicting (divergent payloads — needs LWW or a
  // human). Payload signature on integer cents, never a
  // double-rendered string. Fixture re-emits every 7th order
  // identically and every 11th with a mutated status.
  // ---------------------------------------------------------------
  private def q224(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("status"),
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        .as("cents"))
    val batch = base
      .unionByName(base.filter(pmod(col("k"), lit(7)) === 0))
      .unionByName(base.filter(pmod(col("k"), lit(11)) === 0)
        .withColumn("status", lit("X")))
    val sig = concat(col("status"), lit(":"), col("cents").cast("string"))
    batch.withColumn("sig", sig)
      .groupBy("k")
      .agg(count(lit(1)).as("n"), countDistinct(col("sig")).as("npay"))
      .withColumn("class", when(col("n") === 1, "unique")
        .when(col("npay") === 1, "redundant_dup")
        .otherwise("conflicting"))
      .groupBy("class")
      .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"))
      .orderBy("class")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q224_merge_conflicts" -> (q224 _),
    "q223_coordinated_sample" -> (q223 _),
    "q222_gini" -> (q222 _),
    "q221_collocations" -> (q221 _),
    "q220_linear_fill" -> (q220 _),
    "q219_ohlc" -> (q219 _),
    "q218_embedding_drift" -> (q218 _),
    "q217_scd3" -> (q217 _),
    "q216_pii_lineage" -> (q216 _),
    "q215_state_rebuild" -> (q215 _),
    "q214_pack_provenance" -> (q214 _),
    "q213_dup_factor" -> (q213 _),
    "q212_quality_sweep" -> (q212 _),
    "q211_subject_access" -> (q211 _),
    "q210_position_attribution" -> (q210 _),
    "q209_schema_diff" -> (q209 _),
    "q208_pii_inventory" -> (q208 _),
    "q207_neyman_allocation" -> (q207 _),
    "q206_cdc_column_census" -> (q206 _),
    "q205_surrogate_keys" -> (q205 _),
    "q204_partition_advisor" -> (q204 _),
    "q203_impute_mode" -> (q203 _),
    "q202_conversion_lag" -> (q202 _),
    "q201_contact_canon" -> (q201 _),
    "q200_benford" -> (q200 _),
    "q199_rolling_distinct" -> (q199 _),
    "q198_joinability" -> (q198 _),
    "q197_weighted_quantile" -> (q197 _),
    "q196_label_prop" -> (q196 _),
    "q195_interval_union" -> (q195 _),
    "q194_zipf_fit" -> (q194 _),
    "q193_multi_ols" -> (q193 _),
    "q192_discretize" -> (q192 _),
    "q191_pseudonymize" -> (q191 _),
    "q190_bitmap_distinct" -> (q190 _),
    "q183_substring_excise" -> (q183 _),
    "q184_decay_score" -> (q184 _),
    "q185_chisq_drift" -> (q185 _),
    "q186_word_blocklist" -> (q186 _),
    "q187_json_shred" -> (q187 _),
    "q188_lexical_stats" -> (q188 _),
    "q189_ab_ttest" -> (q189 _))

  val oracleSql: Map[String, String] = Map(
    "q224_merge_conflicts" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders
        |), batch AS (
        |  SELECT * FROM base
        |  UNION ALL SELECT * FROM base WHERE k % 7 = 0
        |  UNION ALL SELECT k, 'X', cents FROM base WHERE k % 11 = 0
        |), per AS (
        |  SELECT k, count(*) AS n,
        |    count(DISTINCT status || ':' || CAST(cents AS VARCHAR))
        |      AS npay
        |  FROM batch GROUP BY k
        |), cls AS (
        |  SELECT k, n,
        |    CASE WHEN n = 1 THEN 'unique'
        |      WHEN npay = 1 THEN 'redundant_dup'
        |      ELSE 'conflicting' END AS class
        |  FROM per
        |)
        |SELECT class, count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows
        |FROM cls GROUP BY class ORDER BY class""".stripMargin,
    "q223_coordinated_sample" -> {
      import graft.ops.Sampling.mix30Sql
      s"""WITH cs AS (
         |  SELECT * FROM customer
         |  WHERE (${mix30Sql("c_custkey")}) % 100 < 10
         |), os AS (
         |  SELECT * FROM orders
         |  WHERE (${mix30Sql("o_custkey")}) % 100 < 10
         |), j AS (
         |  SELECT o_totalprice FROM cs JOIN os ON c_custkey = o_custkey
         |), orph AS (
         |  SELECT count(*) AS n_orphan_orders FROM os
         |  WHERE NOT EXISTS (SELECT 1 FROM cs WHERE c_custkey = o_custkey)
         |)
         |SELECT (SELECT count(*) FROM cs) AS n_customers_sampled,
         |  (SELECT count(*) FROM os) AS n_orders_sampled,
         |  (SELECT count(*) FROM j) AS n_joined,
         |  (SELECT COALESCE(CAST(sum(CAST(CAST(o_totalprice
         |      AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT), 0)
         |    FROM j) AS revenue_cents,
         |  n_orphan_orders
         |FROM orph""".stripMargin
    },
    "q222_gini" ->
      """WITH rev AS (
        |  SELECT c.c_nationkey AS g, c.c_custkey AS id,
        |    COALESCE(CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |      * 100 AS BIGINT)) AS BIGINT), 0) AS x
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT g, x, row_number() OVER (PARTITION BY g
        |    ORDER BY x, id) AS r
        |  FROM rev
        |), a AS (
        |  SELECT g, count(*) AS n, CAST(sum(x) AS BIGINT) AS total,
        |    CAST(sum(r * x) AS BIGINT) AS srx
        |  FROM ranked GROUP BY g
        |)
        |SELECT n_name, n AS n_members, total,
        |  CASE WHEN total > 0 THEN
        |    round(2.0 * srx / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))
        |      - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6)
        |  END AS gini
        |FROM a JOIN nation ON a.g = n_nationkey
        |ORDER BY n_name""".stripMargin,
    "q221_collocations" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |), uni AS (
        |  SELECT w, count(*) AS n
        |  FROM (SELECT unnest(ts) AS w FROM toks)
        |  WHERE len(w) > 0 GROUP BY w
        |), pr AS (
        |  SELECT ts[i] AS a, ts[i + 1] AS b
        |  FROM toks, UNNEST(generate_series(1, len(ts) - 1)) AS g(i)
        |), pairs AS (
        |  SELECT a, b, count(*) AS n_ab FROM pr
        |  WHERE len(a) > 0 AND len(b) > 0
        |  GROUP BY a, b HAVING count(*) >= 5
        |), tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM uni
        |)
        |SELECT p.a, p.b, n_ab, ua.n AS n_a, ub.n AS n_b,
        |  round(ln(CAST(n_tot AS DOUBLE) * n_ab /
        |    (CAST(ua.n AS DOUBLE) * ub.n)), 12) AS pmi
        |FROM pairs p
        |JOIN uni ua ON p.a = ua.w
        |JOIN uni ub ON p.b = ub.w, tot
        |ORDER BY pmi DESC, a, b LIMIT 20""".stripMargin,
    "q220_linear_fill" ->
      """WITH daily AS (
        |  SELECT event_type AS series, epoch_ms(ts) // 86400000 AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v0
        |  FROM events GROUP BY 1, 2
        |), b AS (
        |  SELECT min(day) AS lo, max(day) AS hi FROM daily
        |), days AS (
        |  SELECT unnest(range(lo, hi + 1)) AS day FROM b
        |), ser AS (
        |  SELECT DISTINCT series FROM daily
        |), g AS (
        |  SELECT s.series, s.day,
        |    CASE WHEN s.day % 3 = 0 THEN NULL ELSE d.v0 END AS v
        |  FROM (SELECT series, day FROM ser, days) s
        |  LEFT JOIN daily d ON s.series = d.series AND s.day = d.day
        |), w AS (
        |  SELECT series, day, v,
        |    last_value(v IGNORE NULLS) OVER (PARTITION BY series
        |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER (PARTITION BY series ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        |    first_value(v IGNORE NULLS) OVER (PARTITION BY series
        |      ORDER BY day ROWS BETWEEN CURRENT ROW AND
        |      UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER (PARTITION BY series ORDER BY day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        |  FROM g
        |)
        |SELECT series, day,
        |  round(CASE WHEN v IS NOT NULL THEN v
        |    WHEN pv IS NULL OR nv IS NULL THEN NULL
        |    ELSE pv + (nv - pv) * (day - pt) / (nt - pt) END, 6)
        |    AS v_filled,
        |  (v IS NULL AND pv IS NOT NULL AND nv IS NOT NULL)
        |    AS was_interpolated
        |FROM w ORDER BY series, day""".stripMargin,
    "q219_ohlc" ->
      """WITH e AS (
        |  SELECT event_type AS series,
        |    epoch_ms(ts) // 86400000 AS bucket,
        |    epoch_ms(ts) AS ms, event_id AS id, value
        |  FROM events
        |)
        |SELECT series, bucket, count(*) AS n_points,
        |  min(struct_pack(ms := ms, id := id, v := value))['v'] AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(struct_pack(ms := ms, id := id, v := value))['v'] AS close
        |FROM e GROUP BY 1, 2 ORDER BY series, bucket""".stripMargin,
    "q218_embedding_drift" ->
      """WITH ea AS (
        |  SELECT unnest(range(len(embedding))) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings WHERE vec_id % 2 = 0
        |), eb AS (
        |  SELECT unnest(range(len(embedding))) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS v0
        |  FROM embeddings WHERE vec_id % 2 = 1
        |), eb2 AS (
        |  SELECT pos,
        |    CASE WHEN pos < 5 THEN v0 + 0.2 ELSE v0 END AS v
        |  FROM eb
        |), fa AS (
        |  SELECT pos, count(*) AS n_a,
        |    CAST(sum(CAST(v AS DECIMAL(28,12))) AS DOUBLE) /
        |      count(*) AS ma
        |  FROM ea GROUP BY pos
        |), fb AS (
        |  SELECT pos, count(*) AS n_b,
        |    CAST(sum(CAST(v AS DECIMAL(28,12))) AS DOUBLE) /
        |      count(*) AS mb
        |  FROM eb2 GROUP BY pos
        |)
        |SELECT CAST(fa.pos AS INT) AS pos, n_a, n_b,
        |  round(ma, 9) AS mean_a, round(mb, 9) AS mean_b,
        |  round(abs(ma - mb), 9) AS abs_delta,
        |  round(abs(ma - mb), 9) > 0.05 AS drifted
        |FROM fa JOIN fb ON fa.pos = fb.pos
        |ORDER BY pos""".stripMargin,
    "q217_scd3" ->
      """WITH cur AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status FROM orders
        |), b AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 5 = 0 THEN 'X'
        |      ELSE o_orderstatus END AS status
        |  FROM orders WHERE o_orderkey % 13 <> 0
        |), j AS (
        |  SELECT COALESCE(b.k, cur.k) AS k,
        |    CASE WHEN b.k IS NOT NULL THEN b.status
        |      ELSE cur.status END AS status,
        |    CASE WHEN cur.k IS NOT NULL AND b.k IS NOT NULL
        |        AND cur.status IS DISTINCT FROM b.status
        |      THEN cur.status END AS prev_value
        |  FROM cur FULL OUTER JOIN b ON cur.k = b.k
        |)
        |SELECT status, prev_value, count(*) AS n_rows
        |FROM j GROUP BY 1, 2 ORDER BY status, prev_value""".stripMargin,
    "q216_pii_lineage" ->
      """SELECT * FROM (VALUES
        |  ('tn_rpt', 'bal2', false, ''),
        |  ('tn_rpt', 'cust_key', false, ''),
        |  ('tn_rpt', 'display_name', true, 'main.customer.c_name'),
        |  ('tn_stg_c', 'bal', false, ''),
        |  ('tn_stg_c', 'cname', true, 'main.customer.c_name'),
        |  ('tn_stg_c', 'cust_key', false, ''))
        |AS t(model, column_name, tainted, pii_sources)
        |ORDER BY model, column_name""".stripMargin,
    "q215_state_rebuild" ->
      """SELECT * FROM (VALUES
        |  ('int_joined', 'downstream', true),
        |  ('mart_churn', 'downstream', true),
        |  ('mart_ltv', 'new', true),
        |  ('mart_revenue', 'downstream', true),
        |  ('stg_customers', 'modified', true),
        |  ('stg_orders', 'unchanged', false),
        |  ('tmp_scratch', 'removed', false))
        |AS t(model_name, status, rebuild)
        |ORDER BY model_name""".stripMargin,
    "q214_pack_provenance" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, CAST(${PipelineEntry.WsTokSql} AS BIGINT) AS tok
         |  FROM documents WHERE length(trim(text)) > 0
         |), c AS (
         |  SELECT doc_id, source, tok,
         |    CAST(COALESCE(sum(tok) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS off
         |  FROM d WHERE tok > 0
         |), s AS (
         |  SELECT doc_id, source, tok, off,
         |    unnest(range(off // $PackBlock,
         |      (off + tok - 1) // $PackBlock + 1)) AS seq_id
         |  FROM c
         |), spans AS (
         |  SELECT seq_id, doc_id, source,
         |    least((seq_id + 1) * $PackBlock, off + tok)
         |      - greatest(seq_id * $PackBlock, off) AS n_tokens
         |  FROM s
         |), per AS (
         |  SELECT seq_id, source,
         |    CAST(sum(n_tokens) AS BIGINT) AS src_tokens,
         |    count(*) AS n_docs_src
         |  FROM spans GROUP BY 1, 2
         |), wn AS (
         |  SELECT *, row_number() OVER (PARTITION BY seq_id
         |      ORDER BY src_tokens DESC, source) AS rn,
         |    sum(src_tokens) OVER (PARTITION BY seq_id) AS pack_tokens,
         |    sum(n_docs_src) OVER (PARTITION BY seq_id) AS pack_docs,
         |    count(*) OVER (PARTITION BY seq_id) AS n_sources
         |  FROM per
         |)
         |SELECT seq_id, CAST(pack_docs AS BIGINT) AS n_docs, n_sources,
         |  source AS dominant_source,
         |  round(CAST(src_tokens AS DOUBLE) / pack_tokens, 6)
         |    AS dominant_share,
         |  CAST(pack_tokens AS BIGINT) AS n_tokens
         |FROM wn WHERE rn = 1 ORDER BY seq_id""".stripMargin,
    "q213_dup_factor" ->
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
         |), cl AS (
         |  SELECT id, min(m) AS cluster_id FROM r GROUP BY id
         |), sizes AS (
         |  SELECT cluster_id, count(*) AS size FROM cl GROUP BY 1
         |), hist AS (
         |  SELECT CAST(size AS BIGINT) AS size, count(*) AS n_clusters
         |  FROM sizes GROUP BY 1
         |  UNION ALL
         |  SELECT 1, (SELECT count(*) FROM corpus) -
         |    (SELECT count(*) FROM cl)
         |), red AS (
         |  SELECT COALESCE(sum((size - 1) * n_clusters), 0) AS n_redundant
         |  FROM hist
         |), tot AS (
         |  SELECT count(*) AS n_total FROM corpus
         |)
         |SELECT size, n_clusters,
         |  CAST(size * n_clusters AS BIGINT) AS n_docs,
         |  CAST((size - 1) * n_clusters AS BIGINT) AS n_redundant_docs,
         |  round(CAST(n_total AS DOUBLE) / (n_total - n_redundant), 6)
         |    AS dup_factor
         |FROM hist, red, tot ORDER BY size""".stripMargin,
    "q212_quality_sweep" ->
      s"""WITH scored AS (
         |  SELECT ${PipelineEntry.QualitySql} AS q,
         |    ${PipelineEntry.WsTokSql} AS toks
         |  FROM documents
         |), taus AS (
         |  SELECT CAST(i AS DOUBLE) / 10 AS tau
         |  FROM UNNEST(generate_series(0, 9)) AS t(i)
         |)
         |SELECT tau, count(*) AS n_docs,
         |  CAST(count(*) FILTER (q >= tau) AS BIGINT) AS kept_docs,
         |  CAST(COALESCE(sum(toks) FILTER (q >= tau), 0) AS BIGINT)
         |    AS kept_tokens,
         |  round(CAST(count(*) FILTER (q >= tau) AS DOUBLE) / count(*), 6)
         |    AS kept_share
         |FROM scored, taus GROUP BY tau ORDER BY tau""".stripMargin,
    "q211_subject_access" ->
      """WITH sk AS (SELECT min(user_id) AS k FROM events)
        |SELECT 'customer' AS table_name, count(*) AS n_rows,
        |  CAST(NULL AS VARCHAR) AS first_seen,
        |  CAST(NULL AS VARCHAR) AS last_seen
        |FROM customer, sk WHERE c_custkey = k
        |UNION ALL
        |SELECT 'events', count(*),
        |  CAST(min(CAST(ts AS DATE)) AS VARCHAR),
        |  CAST(max(CAST(ts AS DATE)) AS VARCHAR)
        |FROM events, sk WHERE user_id = k
        |UNION ALL
        |SELECT 'orders', count(*),
        |  CAST(min(o_orderdate) AS VARCHAR),
        |  CAST(max(o_orderdate) AS VARCHAR)
        |FROM orders, sk WHERE o_custkey = k
        |ORDER BY table_name""".stripMargin,
    "q210_position_attribution" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ms,
        |    CASE WHEN event_type <> 'purchase' THEN event_type END
        |      AS channel,
        |    event_type = 'purchase' AS is_conv, value
        |  FROM events
        |  WHERE event_type IN ('view', 'click', 'signup', 'purchase')
        |), tt AS (
        |  SELECT user_id, ms AS t_ms, event_id AS t_id, channel
        |  FROM e WHERE NOT is_conv
        |), c AS (
        |  SELECT user_id, ms AS c_ms, event_id AS c_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM e WHERE is_conv
        |), j AS (
        |  SELECT tt.user_id, tt.t_ms, tt.t_id, tt.channel, c.c_ms,
        |    c.c_id, c.cents
        |  FROM tt JOIN c ON tt.user_id = c.user_id
        |  WHERE tt.t_ms < c.c_ms
        |    OR (tt.t_ms = c.c_ms AND tt.t_id < c.c_id)
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, c_id
        |      ORDER BY t_ms, t_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id, c_id) AS n
        |  FROM j
        |), b AS (
        |  SELECT channel, cents,
        |    CASE WHEN n = 1 THEN 10000
        |      WHEN n = 2 THEN 5000
        |      WHEN rn = 1 THEN 4000 + 2000 % (n - 2)
        |      WHEN rn = n THEN 4000
        |      ELSE 2000 // (n - 2) END AS bp
        |  FROM r
        |), credited AS (
        |  SELECT channel, count(*) AS n_credits,
        |    CAST(sum(bp) AS BIGINT) AS total_bp,
        |    round(CAST(sum(cents * bp) AS DOUBLE) / 1e6, 6)
        |      AS credited_value
        |  FROM b GROUP BY channel
        |), none_row AS (
        |  SELECT '(none)' AS channel, count(*) AS n_credits,
        |    CAST(count(*) * 10000 AS BIGINT) AS total_bp,
        |    round(CAST(sum(cents) * 10000 AS DOUBLE) / 1e6, 6)
        |      AS credited_value
        |  FROM c WHERE NOT EXISTS (SELECT 1 FROM j
        |    WHERE j.user_id = c.user_id AND j.c_id = c.c_id)
        |  HAVING count(*) > 0
        |)
        |SELECT * FROM credited
        |UNION ALL SELECT * FROM none_row
        |ORDER BY channel""".stripMargin,
    "q209_schema_diff" ->
      """SELECT * FROM (VALUES
        |  ('lang', 'string', CAST(NULL AS VARCHAR), 'removed'),
        |  ('n_chars', 'bigint', 'int', 'type_changed'),
        |  ('quality', CAST(NULL AS VARCHAR), 'double', 'added'))
        |AS t(column_name, before_type, after_type, change)
        |ORDER BY column_name""".stripMargin,
    "q208_pii_inventory" -> {
      import graft.text.TextAnalysis._
      s"""WITH inj AS (
         |  SELECT source,
         |    text
         |    || CASE WHEN doc_id % 10 = 0 THEN ' contact: user' ||
         |      CAST(doc_id AS VARCHAR) || '@example.com or 5551234567'
         |      ELSE '' END
         |    || CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' ||
         |      CAST(doc_id % 256 AS VARCHAR) || '.1' ELSE '' END
         |    || CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-' ||
         |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
         |    AS text
         |  FROM documents
         |), c AS (
         |  SELECT source,
         |    CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT)
         |      AS ne,
         |    CAST(len(regexp_extract_all(text, '$LongNumberRe')) AS BIGINT)
         |      AS nn,
         |    CAST(len(regexp_extract_all(text, '$Ipv4Re')) AS BIGINT)
         |      AS ni,
         |    CAST(len(regexp_extract_all(text, '$SsnRe')) AS BIGINT)
         |      AS ns
         |  FROM inj
         |)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(ne) AS BIGINT) AS n_emails,
         |  CAST(sum(CASE WHEN ne > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS docs_with_email,
         |  CAST(sum(nn) AS BIGINT) AS n_numbers,
         |  CAST(sum(CASE WHEN nn > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS docs_with_number,
         |  CAST(sum(ni) AS BIGINT) AS n_ips,
         |  CAST(sum(CASE WHEN ni > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS docs_with_ip,
         |  CAST(sum(ns) AS BIGINT) AS n_ssns,
         |  CAST(sum(CASE WHEN ns > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS docs_with_ssn
         |FROM c GROUP BY source ORDER BY source""".stripMargin
    },
    "q207_neyman_allocation" ->
      """WITH m AS (
        |  SELECT event_type AS stratum, count(*) AS n,
        |    sum(CAST(value AS DECIMAL(18,6))) AS s,
        |    sum(CAST(value AS DECIMAL(18,6)) *
        |        CAST(value AS DECIMAL(18,6))) AS q
        |  FROM events GROUP BY 1
        |), c AS (
        |  SELECT stratum, n,
        |    CASE WHEN n >= 2 AND
        |      (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |        / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) > 0
        |      THEN sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) *
        |        CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) /
        |        (CAST(n AS DOUBLE) - 1))
        |      ELSE 0.0 END AS sd
        |  FROM m
        |), w AS (
        |  SELECT stratum, n, sd,
        |    CAST(round(CAST(n AS DOUBLE) * sd, 6) AS DECIMAL(28,6)) AS w
        |  FROM c
        |), t AS (
        |  SELECT sum(w) AS tw FROM w
        |), r AS (
        |  SELECT stratum, n, sd, CAST(w AS DOUBLE) AS wd,
        |    CAST(tw AS DOUBLE) AS twd
        |  FROM w, t
        |), r2 AS (
        |  SELECT stratum, n, sd,
        |    CASE WHEN twd > 0 THEN round(wd / twd, 6) ELSE 0.0 END
        |      AS alloc_share,
        |    CASE WHEN twd > 0
        |      THEN least(n, CAST(round(1000.0 * wd / twd, 0) AS BIGINT))
        |      ELSE 0 END AS n_alloc
        |  FROM r
        |)
        |SELECT stratum AS event_type, n AS n_rows, round(sd, 6) AS sd,
        |  alloc_share, CAST(n_alloc AS BIGINT) AS n_alloc,
        |  round(CAST(n_alloc AS DOUBLE) / n, 6) AS sampling_rate
        |FROM r2 ORDER BY event_type""".stripMargin,
    "q206_cdc_column_census" ->
      """WITH b AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS s, o_totalprice AS p
        |  FROM orders
        |), a AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 5 = 0 THEN 'X'
        |      ELSE o_orderstatus END AS s,
        |    CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 10
        |      ELSE o_totalprice END AS p
        |  FROM orders WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 17 = 0
        |), u AS (
        |  SELECT b.s AS bs, a.s AS as_, b.p AS bp, a.p AS ap
        |  FROM b JOIN a ON b.k = a.k
        |  WHERE (b.s IS DISTINCT FROM a.s) OR (b.p IS DISTINCT FROM a.p)
        |), agg AS (
        |  SELECT count(*) AS n_updates,
        |    count(*) FILTER (bs IS DISTINCT FROM as_) AS chg_s,
        |    count(*) FILTER (bp IS DISTINCT FROM ap) AS chg_p
        |  FROM u
        |)
        |SELECT 'o_orderstatus' AS column_name,
        |  CAST(chg_s AS BIGINT) AS n_changed, n_updates,
        |  round(CAST(chg_s AS DOUBLE) / n_updates, 6) AS share_of_updates
        |FROM agg
        |UNION ALL
        |SELECT 'o_totalprice', CAST(chg_p AS BIGINT), n_updates,
        |  round(CAST(chg_p AS DOUBLE) / n_updates, 6)
        |FROM agg
        |ORDER BY column_name""".stripMargin,
    "q205_surrogate_keys" ->
      """SELECT CAST(row_number() OVER
        |    (ORDER BY c_mktsegment, c_nationkey) AS BIGINT)
        |    AS surrogate_id,
        |  c_mktsegment, c_nationkey
        |FROM (SELECT DISTINCT c_mktsegment, c_nationkey FROM customer)
        |ORDER BY surrogate_id""".stripMargin,
    "q204_partition_advisor" -> graft.ops.PartitionAdvisor.sql(
      "events",
      Seq(
        "day" -> "epoch_ms(ts) // 86400000",
        "event_type" -> "event_type",
        "null_demo" -> "CASE WHEN user_id % 50 = 0 THEN user_id END",
        "skew_demo" ->
          "CASE WHEN user_id % 3 = 0 THEN -1 ELSE user_id END",
        "user_id" -> "user_id"),
      minParts = 8, maxParts = 100),
    "q203_impute_mode" ->
      """WITH d AS (
        |  SELECT c_mktsegment AS g,
        |    CASE WHEN c_custkey % 7 = 0 THEN NULL
        |      ELSE c_nationkey END AS v
        |  FROM customer
        |), census AS (
        |  SELECT g, v, count(*) AS c FROM d
        |  WHERE v IS NOT NULL GROUP BY 1, 2
        |), modes AS (
        |  SELECT g, v AS mode_value,
        |    round(CAST(c AS DOUBLE) / nn, 6) AS mode_share
        |  FROM (
        |    SELECT g, v, c,
        |      row_number() OVER (PARTITION BY g ORDER BY c DESC, v) AS rn,
        |      sum(c) OVER (PARTITION BY g) AS nn
        |    FROM census)
        |  WHERE rn = 1
        |), base AS (
        |  SELECT g, count(*) AS n_rows,
        |    count(*) FILTER (v IS NULL) AS n_null
        |  FROM d GROUP BY 1
        |)
        |SELECT base.g AS group_key, n_rows, n_null, mode_value, mode_share
        |FROM base LEFT JOIN modes ON base.g = modes.g
        |ORDER BY group_key""".stripMargin,
    "q202_conversion_lag" ->
      """WITH e AS (
        |  SELECT user_id AS u, event_type AS typ, epoch_ms(ts) AS ms
        |  FROM events
        |), a AS (
        |  SELECT u, ms AS a_ms FROM e WHERE typ = 'view'
        |), b AS (
        |  SELECT u, ms AS b_ms FROM e WHERE typ = 'purchase'
        |), m AS (
        |  SELECT a.u, a.a_ms, min(b.b_ms) AS b_ms
        |  FROM a JOIN b ON a.u = b.u AND b.b_ms > a.a_ms
        |    AND b.b_ms <= a.a_ms + 86400000
        |  GROUP BY 1, 2
        |), s AS (
        |  SELECT u, a_ms, b_ms - a_ms AS gap_ms FROM m
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM e c WHERE c.typ = 'error' AND c.u = m.u
        |      AND c.ms > m.a_ms AND c.ms < m.b_ms)
        |)
        |SELECT (a_ms // 3600000) % 24 AS hour, count(*) AS n_conversions,
        |  round(quantile_cont(gap_ms, 0.25), 6) AS p25,
        |  round(quantile_cont(gap_ms, 0.50), 6) AS p50,
        |  round(quantile_cont(gap_ms, 0.75), 6) AS p75,
        |  round(quantile_cont(gap_ms, 0.90), 6) AS p90
        |FROM s GROUP BY 1 ORDER BY hour""".stripMargin,
    "q201_contact_canon" ->
      """WITH ct AS (
        |  SELECT 'john.' || CAST(c_custkey AS VARCHAR) ||
        |      '+promo@GMAIL.com' AS email,
        |    '+1 (202) 555-' ||
        |      lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS phone
        |  FROM customer
        |  UNION ALL
        |  SELECT 'john' || CAST(c_custkey AS VARCHAR) ||
        |      '@googlemail.com',
        |    '202.555.' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
        |  FROM customer
        |  UNION ALL
        |  SELECT 'user.' || CAST(c_custkey AS VARCHAR) || '@Example.ORG',
        |    '555-01' || lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0')
        |  FROM customer WHERE c_custkey % 2 = 0
        |), p2 AS (
        |  SELECT
        |    regexp_extract(lower(trim(email)),
        |      '^([^@]+)@([^@]+)$', 1) AS l0,
        |    regexp_extract(lower(trim(email)),
        |      '^([^@]+)@([^@]+)$', 2) AS d0,
        |    phone
        |  FROM ct
        |), p3 AS (
        |  SELECT l0,
        |    CASE WHEN d0 = 'googlemail.com' THEN 'gmail.com'
        |      ELSE d0 END AS d,
        |    d0, phone
        |  FROM p2
        |), p4 AS (
        |  SELECT l0, d, d0, regexp_replace(l0, '\+.*$', '') AS notag,
        |    phone
        |  FROM p3
        |), p5 AS (
        |  SELECT l0, d, d0,
        |    CASE WHEN d = 'gmail.com'
        |      THEN regexp_replace(notag, '\.', '', 'g')
        |      ELSE notag END AS lf,
        |    regexp_replace(phone, '[^0-9]', '', 'g') AS digits
        |  FROM p4
        |), p6 AS (
        |  SELECT
        |    CASE WHEN l0 <> '' AND d0 <> '' AND lf <> ''
        |      THEN lf || '@' || d END AS ce,
        |    CASE WHEN length(digits) = 11 AND substr(digits, 1, 1) = '1'
        |      THEN substr(digits, 2, 10) ELSE digits END AS nat
        |  FROM p5
        |), canon AS (
        |  SELECT ce,
        |    CASE WHEN length(nat) = 10 THEN nat END AS cp,
        |    regexp_extract(ce, '@(.+)$', 1) AS domain
        |  FROM p6
        |)
        |SELECT domain, count(*) AS n_contacts,
        |  count(DISTINCT ce) AS n_identities,
        |  count(cp) AS n_valid_phones,
        |  count(DISTINCT cp) AS n_distinct_phones
        |FROM canon GROUP BY domain ORDER BY domain""".stripMargin,
    "q200_benford" -> graft.quality.Benford.sql(
      """
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS v
        |  FROM orders""".stripMargin),
    "q199_rolling_distinct" ->
      """WITH d AS (
        |  SELECT epoch_ms(ts) // 86400000 AS day, user_id FROM events
        |), days AS (
        |  SELECT DISTINCT day FROM d
        |), seven AS (
        |  SELECT days.day AS day, count(DISTINCT d.day) AS n_days_present,
        |    count(DISTINCT d.user_id) AS distinct_7d
        |  FROM days JOIN d ON d.day BETWEEN days.day - 6 AND days.day
        |  GROUP BY 1
        |), one AS (
        |  SELECT day, count(DISTINCT user_id) AS distinct_1d
        |  FROM d GROUP BY 1
        |)
        |SELECT seven.day, n_days_present, distinct_1d, distinct_7d
        |FROM seven JOIN one ON seven.day = one.day
        |ORDER BY seven.day""".stripMargin,
    "q198_joinability" -> graft.sources.Joinability.sql(JoinCands),
    "q197_weighted_quantile" ->
      """WITH d AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS v,
        |    CAST(l_quantity AS BIGINT) AS w,
        |    l_orderkey * 10 + l_linenumber AS id
        |  FROM lineitem
        |), c AS (
        |  SELECT g, v, w,
        |    sum(w) OVER (PARTITION BY g ORDER BY v, id
        |      ROWS UNBOUNDED PRECEDING) AS cw,
        |    sum(w) OVER (PARTITION BY g) AS tw
        |  FROM d
        |)
        |SELECT g AS l_returnflag, CAST(max(tw) AS BIGINT) AS total_weight,
        |  min(CASE WHEN cw * 100 >= tw * 25 THEN v END) AS wp25,
        |  min(CASE WHEN cw * 100 >= tw * 50 THEN v END) AS wp50,
        |  min(CASE WHEN cw * 100 >= tw * 75 THEN v END) AS wp75
        |FROM c GROUP BY g ORDER BY l_returnflag""".stripMargin,
    "q196_label_prop" -> graft.ops.LabelProp.sql(
      """SELECT prev AS src, l_suppkey AS dst FROM (
        |    SELECT l_suppkey,
        |      lag(l_suppkey) OVER (PARTITION BY l_orderkey
        |        ORDER BY l_linenumber, l_suppkey) AS prev
        |    FROM lineitem) r
        |  JOIN supplier sa ON r.prev = sa.s_suppkey
        |  JOIN supplier sb ON r.l_suppkey = sb.s_suppkey
        |  WHERE prev IS NOT NULL AND prev <> r.l_suppkey
        |    AND sa.s_nationkey = sb.s_nationkey""".stripMargin,
      iters = 3),
    "q195_interval_union" ->
      """WITH iv AS (
        |  SELECT user_id AS key, epoch_ms(ts) AS s,
        |    epoch_ms(ts) + 600000 AS e, event_id AS id
        |  FROM events
        |), w AS (
        |  SELECT key, s, e, id,
        |    max(e) OVER (PARTITION BY key ORDER BY s, e, id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prior_end
        |  FROM iv
        |), b AS (
        |  SELECT key, s, e, id,
        |    CASE WHEN prior_end IS NULL OR s > prior_end
        |      THEN 1 ELSE 0 END AS brk
        |  FROM w
        |), isl AS (
        |  SELECT key, s, e,
        |    sum(brk) OVER (PARTITION BY key ORDER BY s, e, id
        |      ROWS UNBOUNDED PRECEDING) AS island
        |  FROM b
        |), g AS (
        |  SELECT key, island, count(*) AS n_iv,
        |    min(s) AS st, max(e) AS en
        |  FROM isl GROUP BY 1, 2
        |)
        |SELECT key AS user_id, CAST(sum(n_iv) AS BIGINT) AS n_intervals,
        |  count(*) AS n_islands, CAST(sum(en - st) AS BIGINT) AS covered,
        |  CAST(max(en - st) AS BIGINT) AS longest_island
        |FROM g GROUP BY key ORDER BY user_id""".stripMargin,
    "q194_zipf_fit" -> graft.text.Zipf.sql(
      """
        |  WITH tok AS (
        |    SELECT source AS series, unnest(string_split(text, ' ')) AS w
        |    FROM documents
        |  ), census AS (
        |    SELECT series, w, count(*) AS freq FROM tok
        |    WHERE len(w) > 0 GROUP BY 1, 2
        |  ), rk AS (
        |    SELECT series, freq, row_number() OVER (PARTITION BY series
        |      ORDER BY freq DESC, w) AS rank
        |    FROM census
        |  )
        |  SELECT series, rank, freq FROM rk WHERE rank <= 100""".stripMargin),
    "q193_multi_ols" -> graft.quality.MultiOls.sql(
      """
        |  SELECT event_type AS series,
        |    (epoch_ms(ts) // 86400000) - 19700 AS x1,
        |    count(*) AS x2,
        |    sum(CAST(value AS DECIMAL(18,2))) AS value
        |  FROM events
        |  GROUP BY 1, 2""".stripMargin),
    "q192_discretize" ->
      """WITH b AS (
        |  SELECT l_returnflag AS g,
        |    round(quantile_cont(l_extendedprice, 0.25), 6) AS c1,
        |    round(quantile_cont(l_extendedprice, 0.50), 6) AS c2,
        |    round(quantile_cont(l_extendedprice, 0.75), 6) AS c3
        |  FROM lineitem GROUP BY 1
        |), j AS (
        |  SELECT l.l_returnflag AS group_key,
        |    CAST(l.l_extendedprice > c1 AS INT) +
        |    CAST(l.l_extendedprice > c2 AS INT) +
        |    CAST(l.l_extendedprice > c3 AS INT) AS bin,
        |    c1, c2, c3
        |  FROM lineitem l JOIN b ON l.l_returnflag = b.g
        |)
        |SELECT group_key, bin, count(*) AS n_rows,
        |  CASE bin WHEN 1 THEN c1 WHEN 2 THEN c2 WHEN 3 THEN c3 END
        |    AS lo_bound,
        |  CASE bin WHEN 0 THEN c1 WHEN 1 THEN c2 WHEN 2 THEN c3 END
        |    AS hi_bound
        |FROM j GROUP BY group_key, bin, lo_bound, hi_bound
        |ORDER BY group_key, bin""".stripMargin,
    "q191_pseudonymize" ->
      """WITH c AS (
        |  SELECT substr(sha256('graft-export-key:' ||
        |      CAST(c_custkey AS VARCHAR)), 1, 16) AS tok,
        |    c_nationkey
        |  FROM customer
        |), o AS (
        |  SELECT substr(sha256('graft-export-key:' ||
        |      CAST(o_custkey AS VARCHAR)), 1, 16) AS tok,
        |    1 AS m
        |  FROM orders
        |), j AS (
        |  SELECT c.tok, c.c_nationkey, o.m
        |  FROM c LEFT JOIN o ON c.tok = o.tok
        |), a AS (
        |  SELECT c_nationkey, count(DISTINCT tok) AS n_customers,
        |    count(m) AS n_orders, min(tok) AS sample_token
        |  FROM j GROUP BY 1
        |)
        |SELECT n_name, n_customers, n_orders, sample_token
        |FROM a JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY n_name""".stripMargin,
    "q190_bitmap_distinct" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, user_id FROM events
        |), per_day AS (
        |  SELECT event_type, day, count(DISTINCT user_id) AS dd
        |  FROM d GROUP BY 1, 2
        |), per_type AS (
        |  SELECT event_type, count(*) AS n_days,
        |    CAST(sum(dd) AS BIGINT) AS sum_daily_distinct
        |  FROM per_day GROUP BY 1
        |), dist AS (
        |  SELECT event_type, count(DISTINCT user_id) AS distinct_users
        |  FROM d GROUP BY 1
        |), g AS (
        |  SELECT count(DISTINCT user_id) AS global_distinct FROM d
        |)
        |SELECT per_type.event_type, n_days, distinct_users,
        |  sum_daily_distinct, global_distinct
        |FROM per_type JOIN dist ON per_type.event_type = dist.event_type
        |CROSS JOIN g ORDER BY per_type.event_type""".stripMargin,
    "q183_substring_excise" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
         |), grams AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |    array_to_string(ts[i:i+${ExciseK - 1}], ' ') AS gram
         |  FROM toks, UNNEST(generate_series(1, len(ts) - ${ExciseK - 1}))
         |    AS g(i)
         |), marked AS (
         |  SELECT doc_id, pos,
         |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn,
         |    count(*) OVER (PARTITION BY gram) AS cnt
         |  FROM grams
         |), covered AS (
         |  SELECT DISTINCT doc_id, pos + o AS p
         |  FROM marked, UNNEST(generate_series(0, ${ExciseK - 1})) AS gg(o)
         |  WHERE cnt >= 2 AND rn > 1
         |), tok AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS p, ts[i] AS token
         |  FROM toks, UNNEST(generate_series(1, len(ts))) AS g(i)
         |), kept AS (
         |  SELECT t.doc_id, count(*) AS n_kept,
         |    string_agg(t.token, ' ' ORDER BY t.p) AS cleaned
         |  FROM tok t ANTI JOIN covered c
         |    ON t.doc_id = c.doc_id AND t.p = c.p
         |  GROUP BY t.doc_id
         |)
         |SELECT toks.doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         |  CAST(len(ts) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
         |  COALESCE(cleaned, '') AS cleaned
         |FROM toks LEFT JOIN kept ON toks.doc_id = kept.doc_id
         |ORDER BY toks.doc_id""".stripMargin,
    "q184_decay_score" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(value AS DECIMAL(12,6)) AS v
        |  FROM events
        |), m AS (
        |  SELECT max(day) AS mx FROM e
        |), w AS (
        |  SELECT user_id, v,
        |    CAST(floor(date_diff('day', day, mx) / 2) AS INT) AS halvings
        |  FROM e, m
        |)
        |SELECT user_id, count(*) AS n_events,
        |  round(CAST(sum(v) AS DOUBLE), 6) AS raw_sum,
        |  round(CAST(sum(v * CAST(power(2, -halvings) AS DECIMAL(20,18)))
        |    AS DOUBLE), 9) AS decayed
        |FROM w WHERE halvings <= 18
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q185_chisq_drift" ->
      """WITH e AS (
        |  SELECT event_type, epoch_ns(ts) AS ts FROM events
        |), b AS (
        |  SELECT min(ts) AS lo, max(ts) AS hi FROM e
        |), s AS (
        |  SELECT event_type, e.ts, lo + (hi - lo) // 2 AS mid FROM e, b
        |), base AS (
        |  SELECT event_type, count(*) AS n_base FROM s
        |  WHERE ts < mid GROUP BY 1
        |), cur AS (
        |  SELECT event_type, count(*) AS n_cur FROM s
        |  WHERE ts >= mid GROUP BY 1
        |), j AS (
        |  SELECT COALESCE(base.event_type, cur.event_type) AS category,
        |    COALESCE(n_base, 0) AS n_base, COALESCE(n_cur, 0) AS n_cur
        |  FROM base FULL OUTER JOIN cur ON base.event_type = cur.event_type
        |), c AS (
        |  SELECT category, n_base, n_cur,
        |    CAST(n_base AS DOUBLE) * (SELECT sum(n_cur) FROM j) /
        |      (SELECT sum(n_base) FROM j) AS expected
        |  FROM j
        |), d AS (
        |  SELECT *, CASE WHEN expected > 0
        |    THEN round((n_cur - expected) * (n_cur - expected) / expected, 9)
        |    ELSE 0.0 END AS contrib
        |  FROM c
        |)
        |SELECT category, n_base, n_cur, round(expected, 9) AS expected,
        |  contrib,
        |  CAST(sum(CAST(contrib AS DECIMAL(28,9))) OVER () AS DOUBLE)
        |    AS chi2_total
        |FROM d ORDER BY category""".stripMargin,
    "q186_word_blocklist" ->
      """WITH d AS (
        |  SELECT source,
        |    COALESCE(list_min(list_intersect(string_split(text, ' '),
        |      ['big', 'slow', 'vector'])), '<clean>') AS blocked_word
        |  FROM documents
        |)
        |SELECT source, blocked_word, count(*) AS n_docs
        |FROM d GROUP BY 1, 2 ORDER BY source, blocked_word""".stripMargin,
    "q187_json_shred" ->
      """WITH raw AS (
        |  SELECT event_type,
        |    CASE WHEN event_id % 17 = 0 THEN '{not json' ELSE props END
        |      AS props
        |  FROM events
        |), k AS (
        |  SELECT event_type,
        |    CASE WHEN json_valid(props)
        |      THEN CAST(json_extract(props, '$.k') AS INT) END AS k
        |  FROM raw
        |), n AS (
        |  SELECT event_type, k,
        |    '{"a":{"b":' || CAST(k AS VARCHAR) || '},"tags":[' ||
        |      CAST(k % 3 AS VARCHAR) || ',' || CAST(k % 5 AS VARCHAR) ||
        |      ']}' AS nested
        |  FROM k
        |)
        |SELECT event_type, count(*) AS n_events,
        |  count(*) FILTER (k IS NULL) AS n_malformed,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(sum(CAST(json_extract(nested, '$.a.b') AS INT)) AS BIGINT)
        |    AS sum_ab,
        |  CAST(sum(CAST(json_extract(nested, '$.tags[1]') AS INT)) AS BIGINT)
        |    AS sum_tag2
        |FROM n GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q188_lexical_stats" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |), cnt AS (
        |  SELECT doc_id, tok, count(*) AS c, sum(len(tok)) AS lsum
        |  FROM tok GROUP BY 1, 2
        |), agg AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    count(*) AS n_distinct,
        |    count(*) FILTER (c = 1) AS n_hapax,
        |    CAST(sum(lsum) AS BIGINT) AS n_chars
        |  FROM cnt GROUP BY doc_id
        |)
        |SELECT doc_id, n_tokens, n_distinct, n_hapax, n_chars,
        |  round(CAST(n_distinct AS DOUBLE) / n_tokens, 9) AS ttr,
        |  round(CAST(n_chars AS DOUBLE) / n_tokens, 9) AS mean_len
        |FROM agg ORDER BY doc_id""".stripMargin,
    "q189_ab_ttest" ->
      """WITH e AS (
        |  SELECT event_type, user_id % 2 = 1 AS is_b,
        |    CAST(value AS DECIMAL(12,6)) AS v
        |  FROM events
        |), m AS (
        |  SELECT event_type,
        |    count(*) FILTER (NOT is_b) AS n_a,
        |    count(*) FILTER (is_b) AS n_b,
        |    sum(v) FILTER (NOT is_b) AS s_a,
        |    sum(v) FILTER (is_b) AS s_b,
        |    sum(v * v) FILTER (NOT is_b) AS q_a,
        |    sum(v * v) FILTER (is_b) AS q_b
        |  FROM e GROUP BY 1
        |), c AS (
        |  SELECT event_type, n_a, n_b,
        |    CAST(s_a AS DOUBLE) / n_a AS m_a,
        |    CAST(s_b AS DOUBLE) / n_b AS m_b,
        |    (CAST(q_a AS DOUBLE) -
        |      CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / n_a) / (n_a - 1)
        |      AS var_a,
        |    (CAST(q_b AS DOUBLE) -
        |      CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / n_b) / (n_b - 1)
        |      AS var_b
        |  FROM m
        |)
        |SELECT event_type, n_a, n_b,
        |  round(m_a, 9) AS mean_a, round(m_b, 9) AS mean_b,
        |  round((m_b - m_a) / sqrt(var_b / n_b + var_a / n_a), 6) AS t_stat,
        |  abs((m_b - m_a) / sqrt(var_b / n_b + var_a / n_a)) > 1.96
        |    AS significant
        |FROM c ORDER BY event_type""".stripMargin)
}
