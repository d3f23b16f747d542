package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.functions.TextHashes
import graft.ops.{Sampling, Skew}
import graft.sources.Tables
import graft.sources.Tables.{load => t}
import graft.streaming.Streams
import graft.text.TextAnalysis

/** q46–q66: round-3 widening — reshaping (pivot/unpivot/cube),
  * extended window functions, skew-safe aggregation, semi/anti joins,
  * set operations, deterministic sampling, the corpus filter funnel,
  * PII redaction, column profiling, benchmark decontamination,
  * repetition scoring, incremental strategies, DAG selectors, seeds,
  * and five genuinely streaming queries (state-store dedup,
  * watermark-flushed sessionization, foreachBatch merge sink,
  * stream-static join, stream-stream join) — every one checked
  * against a batch SQL oracle.
  */
object ExtendedEntry {

  private def dec2(c: Column) = c.cast("decimal(18,2)")

  /** Stateful streaming queries commit one state-store file PER
    * shuffle partition PER stateful operator PER micro-batch — so
    * their partition count should be sized to STATE volume, not to
    * the scan width batch queries want. Temporarily narrows the
    * session setting for the streaming run (restored after).
    */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(f: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Scoped session-conf override (restored even on throw) — the
    * withShufflePartitions shape for arbitrary keys. */
  private def withConf[T](s: SparkSession, key: String, v: String)(
      f: => T): T = {
    val prev = s.conf.getOption(key)
    s.conf.set(key, v)
    try f
    finally prev match {
      case Some(p) => s.conf.set(key, p)
      case None    => s.conf.unset(key)
    }
  }

  // ---------------------------------------------------------------
  // q46 — pivot: long→wide with per-status counts and decimal sums.
  // Still ONE shuffle on the groupBy key; the pivot values are a
  // metadata-level column split.
  // ---------------------------------------------------------------
  private def q46(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("o_totalprice"))).cast("double").as("sp"))
      .orderBy("o_orderpriority")

  // ---------------------------------------------------------------
  // q47 — unpivot (wide→long melt) of per-nation customer metrics.
  // ---------------------------------------------------------------
  private def q47(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).cast("double").as("n_customers"),
        sum(dec2(col("c_acctbal"))).cast("double").as("total_acctbal"),
        max(col("c_acctbal")).as("max_acctbal"))
      .unpivot(Array(col("c_nationkey")),
        Array(col("n_customers"), col("total_acctbal"), col("max_acctbal")),
        "metric", "value")
      .orderBy("c_nationkey", "metric")

  // ---------------------------------------------------------------
  // q48 — cube / grouping sets with grouping_id: all 4 aggregation
  // levels in one pass (Spark expands the cube map-side; one shuffle).
  // ---------------------------------------------------------------
  private def q48(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy(col("gid"), col("o_orderstatus"), col("o_orderpriority"))

  // ---------------------------------------------------------------
  // q49 — extended window functions: lead/lag/ntile/first_value, all
  // sharing ONE partitioning → a single Exchange + Sort.
  // ---------------------------------------------------------------
  private def q49(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ntile(4).over(w).as("quartile"),
        first(col("o_orderkey")).over(w).as("first_key"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // ---------------------------------------------------------------
  // q50 — two-phase salted aggregation over a HOT key (event_type has
  // ~5 values at any SF — the classic all-rows-to-5-reducers skew).
  // The salt fans each hot key over 8 partial groups first; results
  // are identical to the plain groupBy, which is the oracle.
  // ---------------------------------------------------------------
  private def q50(s: SparkSession, dir: String): DataFrame =
    Skew.saltedAgg(
      t(s, dir, "events").withColumn("v", col("value").cast("decimal(18,6)")),
      Seq("event_type"), salt = 8,
      aggs = Seq(
        ("n_events", lit(1), "count"),
        ("sum_v", col("v"), "sum"),
        ("min_ts", col("ts"), "min"),
        ("max_ts", col("ts"), "max")))
      .select(col("event_type"), col("n_events"),
        col("sum_v").cast("double").as("sum_value"),
        expr("min_ts div 1000000").as("min_ms"),
        expr("max_ts div 1000000").as("max_ms"))
      .orderBy("event_type")

  // ---------------------------------------------------------------
  // q51 — left-semi / left-anti joins: active vs dormant customers
  // per nation. Semi/anti never materialize right-side columns — at
  // scale the build side is just the key set.
  // ---------------------------------------------------------------
  private def q51(s: SparkSession, dir: String): DataFrame = {
    val recent = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
      .select("o_custkey")
    val cust = t(s, dir, "customer")
    val active = cust.join(recent, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_active"))
    val dormant = cust.join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_dormant"))
    active.join(dormant, Seq("c_nationkey"), "full_outer")
      .select(col("c_nationkey"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        coalesce(col("n_dormant"), lit(0L)).as("n_dormant"))
      .orderBy("c_nationkey")
  }

  // ---------------------------------------------------------------
  // q52 — set operations: customer cohort retention via
  // INTERSECT / EXCEPT on two periods' buyer keysets.
  // ---------------------------------------------------------------
  private def q52(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    def buyers(y: Int): DataFrame =
      orders.filter(year(col("o_orderdate")) === y).select("o_custkey")
    val b97 = buyers(1997)
    val b98 = buyers(1998)
    val segments = Seq(
      ("1_retained", b97.intersect(b98)),
      ("2_churned", b97.except(b98)),
      ("3_new", b98.except(b97)))
    segments.map { case (name, df) =>
      df.agg(count(lit(1)).as("n_customers"))
        .select(lit(name).as("segment"), col("n_customers"))
    }.reduce(_.unionByName(_)).orderBy("segment")
  }

  // ---------------------------------------------------------------
  // q53 — deterministic stratified sampling: per-priority systematic
  // 1-in-N on the key. A pure scan-level predicate — no shuffle, no
  // RNG, reproducible on retry.
  // ---------------------------------------------------------------
  private def q53(s: SparkSession, dir: String): DataFrame =
    Sampling.stratified(t(s, dir, "orders"), "o_orderpriority", "o_orderkey",
        every = Map("1-URGENT" -> 7L, "2-HIGH" -> 13L), defaultEvery = 29L)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_sampled"),
        sum(dec2(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy("o_orderpriority")

  // ---------------------------------------------------------------
  // q54 — corpus quality filter funnel: 3 cumulative rules, one scan.
  // ---------------------------------------------------------------
  private def q54(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.filterFunnel(t(s, dir, "documents"), Seq(
        ("min_tokens", TextAnalysis.wsTokenCount(col("text")) >= 20),
        ("lexical_diversity", TextAnalysis.distinctTokenRatio(col("text")) >= 0.3),
        ("quality", TextAnalysis.qualityScore(col("text")) >= 0.35)))
      .orderBy("stage")

  // ---------------------------------------------------------------
  // q55 — PII detection/redaction stats. Deterministic synthetic PII
  // is injected into every 10th doc so the patterns actually fire;
  // the oracle injects the identical text.
  // ---------------------------------------------------------------
  private def q55(s: SparkSession, dir: String): DataFrame = {
    val injected = t(s, dir, "documents")
      .withColumn("text", when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" contact: user"), col("doc_id").cast("string"),
            lit("@example.com or 5551234567")))
        .otherwise(col("text")))
    injected.select(col("doc_id"),
        TextAnalysis.emailCount(col("text")).as("n_emails"),
        TextAnalysis.longNumberCount(col("text")).as("n_numbers"),
        length(TextAnalysis.redactPii(col("text"))).cast("long").as("redacted_len"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // q56 — STREAMING state-store dedup: readStream over the events
  // parquet, dropDuplicatesWithinWatermark on user_id, collected via
  // a memory sink. The batch oracle is SELECT DISTINCT.
  // ---------------------------------------------------------------
  private def q56(s: SparkSession, dir: String): DataFrame = {
    val name = s"q56_dedup_${Scratch.key(dir)}"
    s.catalog.dropTempView(name)
    withShufflePartitions(s, 8) {
      val q = Streams.dedupStream(Streams.readEvents(s, dir), Seq("user_id"))
        .select("user_id")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(name).orderBy("user_id")
  }

  // ---------------------------------------------------------------
  // q57 — STREAMING sessionization with event-time-timeout flush:
  // gap-closed sessions emit inside the batch; each user's final
  // session emits only when the watermark (max event time − 1 h)
  // passes its last event + gap. The oracle states exactly that:
  // batch sessionization filtered to gap-closed ∪ watermark-flushed.
  // ---------------------------------------------------------------
  private val SessionGapNs = 1800L * 1000000000L

  private def q57(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val spark: SparkSession = s
    val name = s"q57_sess_${Scratch.key(dir)}"
    s.catalog.dropTempView(name)
    val ev = Streams.readEvents(s, dir)
      .select(col("user_id"), col("ts"), col("value"), col("event_time"))
      .as[Streams.Event]
    withShufflePartitions(s, 8) {
      val q = Streams.sessionizeStream(ev, SessionGapNs)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(name).orderBy("user_id", "session_id")
  }

  // ---------------------------------------------------------------
  // q58 — one-pass column profiling: null/distinct/min/max/mean/var
  // per column from decimal-exact power sums (bit-reproducible
  // variance, unlike engine-native stddev whose merge order differs).
  // ---------------------------------------------------------------
  private def q58(s: SparkSession, dir: String): DataFrame =
    graft.quality.Profile.numeric(t(s, dir, "orders"),
        Seq("o_custkey", "o_orderkey", "o_totalprice"))
      .orderBy("column_name")

  // ---------------------------------------------------------------
  // q59 — STREAMING SINK end-to-end: the events stream lands into a
  // parquet table through foreachBatch + Writer `merge` (staged
  // swap, PK idempotence), then the landed table is aggregated. The
  // oracle aggregates the source directly — landing must be lossless.
  // ---------------------------------------------------------------
  private def q59(s: SparkSession, dir: String): DataFrame = {
    val base = Scratch.fresh(s, "q59", dir)
    val (target, ckpt) = (s"$base/table", s"$base/ckpt")
    withShufflePartitions(s, 8) {
      val q = graft.streaming.StreamSink.writeWithDisposition(
        Streams.readEvents(s, dir).drop("event_time"),
        target, ckpt, "merge", Seq("event_id"))
      try q.processAllAvailable() finally q.stop()
    }
    Tables.parquet(s, target)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------
  // q60 — STREAM-STATIC JOIN: the events stream enriched against the
  // static customer dimension (the per-micro-batch broadcast-join
  // path Structured Streaming plans for static sides), then
  // aggregated per nation. Oracle = the equivalent batch join.
  // ---------------------------------------------------------------
  private def q60(s: SparkSession, dir: String): DataFrame = {
    val name = s"q60_enrich_${Scratch.key(dir)}"
    s.catalog.dropTempView(name)
    val cust = t(s, dir, "customer").select(
      col("c_custkey"), col("c_nationkey"))
    val enriched = Streams.readEvents(s, dir)
      .join(cust, col("user_id") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
    withShufflePartitions(s, 8) {
      val q = enriched.writeStream.format("memory")
        .queryName(name).outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(name).orderBy("c_nationkey")
  }

  // ---------------------------------------------------------------
  // q61 — dbt incremental strategies side by side: append vs merge
  // (≡ delete+insert for whole-row models), with on_schema_change
  // exercised — the batch carries a NEW column; AppendNewColumns
  // evolves the target, Ignore keeps its shape.
  // ---------------------------------------------------------------
  private def q61(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.IncrementalModel
    import org.apache.spark.sql.expressions.Window
    val orders = t(s, dir, "orders")
    def latest(df: DataFrame): DataFrame = {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_totalprice").as("price"))
    }
    val cutoff = lit("1999-01-01").cast("timestamp")
    val existing = latest(orders.filter(col("o_orderdate") < cutoff))
    val batch = latest(orders.filter(col("o_orderdate") >= cutoff))
      .withColumn("flag", lit(1))
    def summarize(label: String, df: DataFrame): DataFrame = {
      val flagged =
        if (df.columns.contains("flag")) count(col("flag")) else lit(0L)
      df.agg(count(lit(1)).as("n_rows"),
          flagged.cast("long").as("n_flagged"),
          sum(dec2(col("price"))).cast("double").as("sum_price"))
        .select(lit(label).as("strategy"), col("n_rows"), col("n_flagged"),
          col("sum_price"))
    }
    Seq(
      summarize("1_append_evolve", IncrementalModel.run(existing, batch,
        Seq("o_custkey"), IncrementalModel.Append,
        IncrementalModel.AppendNewColumns)),
      summarize("2_merge_evolve", IncrementalModel.run(existing, batch,
        Seq("o_custkey"), IncrementalModel.Merge,
        IncrementalModel.AppendNewColumns)),
      summarize("3_delete_insert_ignore", IncrementalModel.run(existing, batch,
        Seq("o_custkey"), IncrementalModel.DeleteInsert,
        IncrementalModel.Ignore)))
      .reduce(_.unionByName(_)).orderBy("strategy")
  }

  // ---------------------------------------------------------------
  // q62 — DAG selector run: "stg+" builds the stg model and only its
  // DESCENDANTS (reference dependency_service traversal / dbt
  // "model+" selection); the untouched sibling never executes.
  // ---------------------------------------------------------------
  private def q62(s: SparkSession, dir: String): DataFrame = {
    import graft.dag.Dag
    val models = Seq(
      Dag.Model("stg", Nil,
        _ => t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))),
      Dag.Model("by_priority", Seq("stg"),
        m => m("stg").groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(dec2(col("o_totalprice"))).cast("double").as("sum_price"))),
      Dag.Model("by_status", Seq("stg"),
        m => m("stg").groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"))),
      Dag.Model("untouched_sibling", Nil,
        _ => { throw new IllegalStateException("must not build") }))
    val ran = Dag.runSelected(models, "stg+")
    // selected set is exactly stg + descendants; the sibling that
    // would throw is never built
    assert(ran.keySet == Set("stg", "by_priority", "by_status"))
    ran("by_priority").orderBy("o_orderpriority")
  }

  // ---------------------------------------------------------------
  // q63 — dbt seeds: CSVs land as warehouse tables (schema'd read,
  // snake_case normalize, full-refresh write), then addressable like
  // any model.
  // ---------------------------------------------------------------
  private def q63(s: SparkSession, dir: String): DataFrame = {
    val base = Scratch.fresh(s, "q63", dir)
    for (name <- Seq("region", "nation"))
      t(s, dir, name).coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(s"$base/seeds/$name")
    // flatten the spark csv dirs into <seedsDir>/<name>.csv files
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/csv"))
    for (name <- Seq("region", "nation")) {
      val src = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/seeds/$name"))
        .map(_.getPath).find(_.getName.startsWith("part-")).get
      fs.rename(src, new org.apache.hadoop.fs.Path(s"$base/csv/$name.csv"))
    }
    val loaded = graft.sources.Seeds.loadAll(s, s"$base/csv", s"$base/wh")
    loaded.toSeq.sortBy(_._1).map { case (name, df) =>
      df.agg(count(lit(1)).as("n_rows"))
        .select(lit(name).as("seed_name"), col("n_rows"))
    }.reduce(_.unionByName(_)).orderBy("seed_name")
  }

  // ---------------------------------------------------------------
  // q64 — benchmark decontamination: train docs sharing ≥3 distinct
  // word 4-grams with an eval doc (every 25th doc is "benchmark";
  // train includes near-copies of it, which must all be flagged).
  // ---------------------------------------------------------------
  private def q64(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val evalSet = docs.filter(col("doc_id") % 25 === 0)
    val train = docs.filter(col("doc_id") % 25 =!= 0)
      .unionByName(evalSet.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("zq "), col("text")).as("text")))
    Dedup.contamination(train, evalSet, "doc_id", "text", n = 4, minShared = 3)
      .orderBy("train_id", "eval_id")
  }

  // ---------------------------------------------------------------
  // q65 — repetition scoring (Gopher rule): max bigram multiplicity
  // per doc, computed per-row (one native hash-count loop — no shuffle).
  // ---------------------------------------------------------------
  private def q65(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
        size(TextHashes.wordBigrams(col("text"))).cast("long").as("n_bigrams"),
        TextHashes.bigramMaxMultiplicity(col("text")).as("max_rep"),
        TextAnalysis.repetitionRatio(col("text")).as("rep_ratio"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------
  // q66 — STREAM-STREAM JOIN: clicks and purchases as two watermarked
  // streams, inner-joined on user within a 24-hour event-time bound —
  // the stateful two-sided join (state expiry driven by watermark +
  // range condition). Single-source batch ⇒ every qualifying pair
  // emits, so the plain batch join is the oracle.
  // ---------------------------------------------------------------
  private def q66(s: SparkSession, dir: String): DataFrame = {
    val name = s"q66_ssj_${Scratch.key(dir)}"
    s.catalog.dropTempView(name)
    // ms-quantized event time: the join range must evaluate at the
    // SAME precision as the oracle's epoch-ms arithmetic (a purchase
    // landing inside the boundary millisecond would otherwise compare
    // differently at micros precision)
    // one replay week: bounds the join state at any SF (the operator
    // semantics are unchanged; a production backfill joins bounded
    // windows exactly like this)
    val (winLo, winHi) =
      (Tables.epochNs("2024-01-08T00:00:00Z"), Tables.epochNs("2024-01-15T00:00:00Z"))
    def side(kind: String, p: String) =
      Streams.readEventsRaw(s, dir)
        .filter(col("event_type") === kind &&
          col("ts") >= winLo && col("ts") < winHi)
        .select(col("user_id").as(s"${p}_user"), col("event_id").as(s"${p}_id"),
          timestamp_millis(expr("ts div 1000000")).as(s"${p}_time"),
          col("value").as(s"${p}_value"))
        .withWatermark(s"${p}_time", "24 hours")
    val clicks = side("click", "click")
    val purchases = side("purchase", "purch")
    val joined = clicks.join(purchases,
      col("click_user") === col("purch_user") &&
        col("purch_time") >= col("click_time") &&
        col("purch_time") <= col("click_time") + expr("INTERVAL 24 HOURS"))
    // no-data micro-batches only advance the watermark to EVICT
    // state; an INNER stream-stream join emits each pair in the
    // batch where both sides arrived, so for this bounded backfill
    // the extra watermark-advance batch re-ran every stateful stage
    // to produce zero rows (r15, guide §1.2) — skip it, scoped to
    // this query
    withConf(s, "spark.sql.streaming.noDataMicroBatches.enabled", "false") {
    withShufflePartitions(s, 8) {
      val q = joined
        .select(col("click_user").as("user_id"), col("click_id"), col("purch_id"),
          unix_millis(col("click_time")).as("click_ms"),
          unix_millis(col("purch_time")).as("purch_ms"))
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    }
    s.table(name).orderBy("user_id", "click_id", "purch_id")
  }

  // ---------------------------------------------------------------
  // q67 — run ledger + upstream dependency check: lifecycle records
  // merge idempotently on run_id (the running→failed transition is an
  // update, not a new row); a target is satisfied iff a SUCCESS run
  // finished within the check timeframe. Fully deterministic stamps
  // → golden oracle.
  // ---------------------------------------------------------------
  private def q67(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.RunLedger
    val path = Scratch.fresh(s, "q67", dir)
    val ledger = new RunLedger(s, path)
    // pipeline_a: two successes; the fresh one at 5_000_000
    ledger.record(1L, "pipeline_a", "success", Some(900_000L), Some(1_000_000L), Some(100L))
    ledger.record(2L, "pipeline_a", "success", Some(4_900_000L), Some(5_000_000L), Some(120L))
    // pipeline_b: an old success, then a run that starts and FAILS
    // (same run_id → lifecycle update via merge)
    ledger.record(3L, "pipeline_b", "success", Some(1_900_000L), Some(2_000_000L), Some(50L))
    ledger.record(4L, "pipeline_b", "running", Some(5_900_000L))
    ledger.record(4L, "pipeline_b", "failed", Some(5_900_000L), Some(6_000_000L),
      error = Some("boom"))
    // pipeline_c: still running, no success yet
    ledger.record(5L, "pipeline_c", "running", Some(7_000_000L))
    ledger.checkUpstream(Seq("pipeline_a", "pipeline_b", "pipeline_c"),
        timeframeMs = 6_000_000L, nowMs = 10_000_000L)
      .orderBy("target")
  }

  // ---------------------------------------------------------------
  // q68 — pairwise correlation profiling: Pearson r for N column
  // pairs in one pass from decimal-exact power/cross sums (native
  // corr() merges partial moments in partial order — not
  // bit-reproducible across engines; this is).
  // ---------------------------------------------------------------
  // corr rounded to 9 decimals: the decimal power sums are exact, but
  // their conversion to double can differ by 1 ulp between engines,
  // and the catastrophic cancellation in n·Σxy − ΣxΣy amplifies that
  // to ~1e-13 relative — observed cross-engine. 9 decimals is far
  // inside both engines' agreement and far beyond any analytical use.
  private def q68(s: SparkSession, dir: String): DataFrame =
    graft.quality.Profile.correlation(t(s, dir, "orders"), Seq(
        ("o_custkey", "o_totalprice"),
        ("o_orderkey", "o_custkey"),
        ("o_orderkey", "o_totalprice")))
      .withColumn("corr", round(col("corr"), 9))
      .orderBy("pair")

  // ---------------------------------------------------------------
  // q69 — SQL-TEXT models with ref()/source() resolution (reference
  // dbt_project.py write_model/compile_model: models are SQL bodies;
  // compile resolves ref/source into relations). Deps auto-extracted
  // from the SQL, materializations mixed: ephemeral staging (inlined
  // by Catalyst through the temp view, like dbt's CTE inlining) →
  // persisted table → view sink reading the post-write relation.
  // ---------------------------------------------------------------
  private def q69(s: SparkSession, dir: String): DataFrame = {
    import graft.dag.{Dag, SqlModels}
    import graft.dag.SqlModels.SqlModel
    val wh = Scratch.fresh(s, "q69", dir)
    val models = Seq(
      SqlModel("stg_orders",
        """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
          |FROM {{ source('lake', 'orders') }}
          |WHERE o_orderdate >= TIMESTAMP '1997-01-01'""".stripMargin),
      SqlModel("cust_totals",
        """SELECT o_custkey, count(*) AS n_orders,
          |  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total_price
          |FROM {{ ref('stg_orders') }}
          |GROUP BY o_custkey""".stripMargin,
        Dag.Table),
      SqlModel("segment_stats",
        """SELECT c.c_mktsegment AS segment, count(*) AS n_customers,
          |  CAST(sum(t.total_price) AS DOUBLE) AS revenue,
          |  CAST(sum(t.n_orders) AS BIGINT) AS n_orders
          |FROM {{ ref('cust_totals') }} t
          |JOIN {{ source('lake', 'customer') }} c ON c.c_custkey = t.o_custkey
          |GROUP BY c.c_mktsegment""".stripMargin,
        Dag.View))
    val built = SqlModels.runMaterialized(s, models, wh,
      (_, tbl) => t(s, dir, tbl))
    built("segment_stats").orderBy("segment")
  }

  // ---------------------------------------------------------------
  // q70 — archive upload ingestion + bucket-URI source: CSVs bundled
  // into a tar.gz (the reference's upload shape,
  // file_upload_service.py:80-94), extracted pure-JVM, then read
  // through the dlt-style bucket_url + file_glob + credentials
  // surface (dlt_runner.py:191-206) over file://.
  // ---------------------------------------------------------------
  private def q70(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{Archive, FileSource}
    val base = Scratch.fresh(s, "q70", dir)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // the "upload": dimension tables exported as CSVs, bundled tar.gz
    val entries = Seq("nation", "region").map { name =>
      val stage = s"$base/stage/$name"
      t(s, dir, name).coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(stage)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
        .map(_.getPath).find(_.getName.startsWith("part-")).get
      (s"$name.csv",
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(part.toUri)))
    }
    Archive.createTarGz(entries, s"$base/upload.tar.gz")
    val extracted = Archive.extract(s"$base/upload.tar.gz", s"$base/extracted")
    require(extracted.toSet == Set("nation.csv", "region.csv"),
      s"unexpected archive contents: $extracted")
    // bucket-URI read with credential passthrough (scheme-selected
    // filesystem; S3A conf keys land even though file:// ignores them)
    val bucket = "file://" + new java.io.File(s"$base/extracted").getAbsolutePath
    val nation = FileSource.readBucket(s, bucket, "csv",
      fileGlob = Some("nation*.csv"),
      credentials = Map("aws_access_key_id" -> "AKIA_TEST",
        "aws_secret_access_key" -> "test_secret"))
    val region = FileSource.readBucket(s, bucket, "csv",
      fileGlob = Some("region*.csv"))
    nation.join(region, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name")).agg(count(lit(1)).as("n_nations"))
      .orderBy("r_name")
  }

  // ---------------------------------------------------------------
  // q71 — dbt package management (dbt_project.py:501-527
  // write_packages_yml + install_packages): a LOCAL package of
  // SQL-text models is pinned in packages.yml, installed into
  // dbt_packages/, loaded namespaced, and composed with a project
  // model that refs the packaged model.
  // ---------------------------------------------------------------
  private def q71(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import graft.dag.{Packages, SqlModels}
    val base = Scratch.fresh(s, "q71", dir)
    // author the package: two chained SQL-text models
    val pkgModels = Paths.get(s"$base/graft_metrics/models")
    Files.createDirectories(pkgModels)
    Files.writeString(pkgModels.resolve("stg_lineitem.sql"),
      """SELECT l_orderkey, l_returnflag,
        |  CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS net
        |FROM {{ source('lake', 'lineitem') }}""".stripMargin)
    Files.writeString(pkgModels.resolve("flag_revenue.sql"),
      """SELECT l_returnflag, count(*) AS n_items,
        |  CAST(sum(net) AS DOUBLE) AS revenue
        |FROM {{ ref('stg_lineitem') }}
        |GROUP BY l_returnflag""".stripMargin)
    Packages.writePackagesFile(base, Seq(
      Packages.PackageSpec("graft_metrics", Some(s"$base/graft_metrics"),
        version = Some("1.0.0"))))
    val installed = Packages.install(base)
    require(installed.map(_.name) == Seq("graft_metrics") &&
      installed.head.modelFiles.size == 2,
      s"unexpected install result: $installed")
    // project model composes with the namespaced packaged model
    val models = Packages.loadModels(base, "graft_metrics") :+
      SqlModels.SqlModel("report",
        "SELECT * FROM {{ ref('graft_metrics__flag_revenue') }}")
    SqlModels.run(s, models, (_, tbl) => t(s, dir, tbl))("report")
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------------------
  // q72 — decontamination at 100 TB scale: bloom prefilter → exact
  // verify (graft.dedup.Bloom). Same corpus split and thresholds as
  // q64, and by construction the same answer — the bloom changes the
  // PLAN (map-side sketch filter on the huge train side instead of
  // shipping every gram into the join), not the result, so q64's
  // oracle gates it exactly.
  // ---------------------------------------------------------------
  private def q72(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Bloom
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val evalSet = docs.filter(col("doc_id") % 25 === 0)
    val train = docs.filter(col("doc_id") % 25 =!= 0)
      .unionByName(evalSet.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("zq "), col("text")).as("text")))
    Bloom.contaminationBloom(train, evalSet, "doc_id", "text",
        n = 4, minShared = 3)
      .orderBy("train_id", "eval_id")
  }

  // ---------------------------------------------------------------
  // q73 — REST API ingestion (dlt rest_api source): a localhost HTTP
  // server stands in for the remote API (zero-egress env), serving
  // the nation table as bearer-auth'd JSON pages; RestSource fetches
  // the pages EXECUTOR-side (page-number pagination fans out) and
  // parses via from_json/inline. The oracle is the table itself — a
  // dropped page, failed auth, or bad parse loses rows and trips it.
  // ---------------------------------------------------------------
  private def q73(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.RestSource
    val src = t(s, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey").collect() // 25-row dim: the "remote" dataset
    def item(r: org.apache.spark.sql.Row) =
      s"""{"n_nationkey":${r.getInt(0)},"n_name":"${r.getString(1)}",""" +
        s""""n_regionkey":${r.getInt(2)}}"""
    val pageSize = 7
    val token = "Bearer graft-rest-token"
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/nation", { exchange =>
      val ok = Option(exchange.getRequestHeaders.getFirst("Authorization"))
        .contains(token)
      val body =
        if (!ok) """{"error":"unauthorized"}"""
        else {
          val q = Option(exchange.getRequestURI.getQuery).getOrElse("")
          val page = q.split("&").collectFirst {
            case kv if kv.startsWith("page=") => kv.drop(5).toInt
          }.getOrElse(0)
          val items = src.slice(page * pageSize, (page + 1) * pageSize)
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
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      // materialize while the fixture server is still up — consumers
      // evaluate after this function returns (and stops it)
      graft.plans.Plans.materialize(
        RestSource.readPaged(s, s"http://127.0.0.1:${server.getAddress.getPort}/nation",
            schema,
            RestSource.PageConfig(pageSize = pageSize,
              headers = Map("Authorization" -> token)))
          .orderBy("n_nationkey"))
    } finally server.stop(0)
  }

  // ---------------------------------------------------------------
  // q74 — percentile profiling: GK-sketch approx quantiles (the one-
  // pass mergeable 100 TB path) contract-checked against exact type-1
  // discrete quantiles (cross-engine value compare vs quantile_disc,
  // rank-error flag for the sketch bound).
  // ---------------------------------------------------------------
  private def q74(s: SparkSession, dir: String): DataFrame =
    graft.quality.Profile.quantiles(
        t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"),
        Seq(0.25, 0.5, 0.75, 0.95, 0.99))
      .orderBy("column_name", "q")

  // ---------------------------------------------------------------
  // q75 — Google Sheets ingestion (google_sheets_source.py: all
  // worksheets of a spreadsheet → tables, header row → records): a
  // localhost fixture speaks the Sheets REST API v4 metadata + values
  // shapes with bearer auth; SheetsSource discovers the worksheets,
  // snake_cases the header row, types via schema, and the two sheets
  // join downstream. A missed sheet, dropped row, bad auth, or
  // broken header typing trips the oracle.
  // ---------------------------------------------------------------
  private def q75(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SheetsSource
    val supplier = t(s, dir, "supplier")
      .select("s_suppkey", "s_name", "s_nationkey")
      .orderBy("s_suppkey").collect()
    val nation = t(s, dir, "nation")
      .select("n_nationkey", "n_name").orderBy("n_nationkey").collect()
    def cell(v: Any) = "\"" + v.toString.replace("\"", "\\\"") + "\""
    def row(vs: Seq[Any]) = vs.map(cell).mkString("[", ",", "]")
    // FORMATTED_VALUE shape: every cell a string; headers exercise
    // the reference's snake_case ingestion naming
    val sheets = Map(
      "Supplier Dim" -> (Seq("S Suppkey", "S Name", "S Nationkey") +:
        supplier.toSeq.map(r => Seq(r.getLong(0), r.getString(1), r.getInt(2)))),
      "Nation Dim" -> (Seq("N Nationkey", "N Name") +:
        nation.toSeq.map(r => Seq(r.getInt(0), r.getString(1)))))
    val token = "Bearer graft-sheets-token"
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v4/spreadsheets/sheetfix1", { exchange =>
      val ok = Option(exchange.getRequestHeaders.getFirst("Authorization"))
        .contains(token)
      val path = exchange.getRequestURI.getPath // decoded: %20 → ' '
      val body =
        if (!ok) """{"error":"unauthorized"}"""
        else if (!path.contains("/values/"))
          sheets.keys.toSeq.sorted.map(t =>
              s"""{"properties":{"title":${cell(t)}}}""")
            .mkString("""{"sheets":[""", ",", "]}")
        else {
          val name = path.substring(path.indexOf("/values/") + 8)
          val rows = sheets.getOrElse(name, Seq.empty)
          s"""{"range":${cell(name)},"majorDimension":"ROWS",""" +
            s""""values":[${rows.map(row).mkString(",")}]}"""
        }
      val bytes = body.getBytes("UTF-8")
      exchange.sendResponseHeaders(if (ok) 200 else 401, bytes.length.toLong)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.start()
    try {
      import graft.sources.SheetsSource.SheetsConfig
      import org.apache.spark.sql.types.LongType
      val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}"
      val tables = SheetsSource.read(s, endpoint,
        s"https://docs.google.com/spreadsheets/d/sheetfix1/edit", // id-from-URL path
        cfg = SheetsConfig(headers = Map("Authorization" -> token)),
        schemas = Map(
          "supplier_dim" -> StructType(Seq(
            StructField("s_suppkey", LongType),
            StructField("s_name", StringType),
            StructField("s_nationkey", IntegerType))),
          "nation_dim" -> StructType(Seq(
            StructField("n_nationkey", IntegerType),
            StructField("n_name", StringType)))))
      // materialize while the fixture is up
      graft.plans.Plans.materialize(tables("supplier_dim")
        .join(tables("nation_dim"),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name").agg(count(lit(1)).as("n_suppliers"))
        .orderBy("n_name"))
    } finally server.stop(0)
  }

  // ---------------------------------------------------------------
  // q76 — MongoDB ingestion (mongodb_source.py: collections →
  // replace-disposition tables, ObjectIds stringified): an orders
  // subset round-trips through CANONICAL Extended JSON v2 (the
  // mongodump interchange format) — $oid/_id, $numberLong,
  // $numberDouble, $date wrappers — and MongoSource's schema-driven
  // unwrap types it back. The oracle recomputes the collection from
  // the orders table, so a dropped wrapper, bad ms-epoch date, or
  // lossy double round-trip trips it.
  // ---------------------------------------------------------------
  private def q76(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.MongoSource
    import org.apache.spark.sql.types.{DoubleType, LongType, TimestampType}
    val base = Scratch.fresh(s, "q76", dir)
    // the "dump": mongodump canonical EJSON, one doc per line,
    // generated distributed (string concat is codegen'd)
    t(s, dir, "orders").filter(col("o_orderkey") < 6000)
      .select(concat(
        lit("{\"_id\":{\"$oid\":\""),
        format_string("%024x", col("o_orderkey")),
        lit("\"},\"o_custkey\":{\"$numberLong\":\""),
        col("o_custkey").cast("string"),
        lit("\"},\"o_totalprice\":{\"$numberDouble\":\""),
        col("o_totalprice").cast("string"), // shortest round-trip repr
        lit("\"},\"o_orderdate\":{\"$date\":{\"$numberLong\":\""),
        unix_millis(col("o_orderdate").cast("timestamp")).cast("string"),
        lit("\"}}}")).as("value"))
      .write.mode("overwrite").text(s"$base/orders.json")
    val tables = MongoSource.read(s, base,
      schemas = Map("orders" -> StructType(Seq(
        StructField("_id", StringType),
        StructField("o_custkey", LongType),
        StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampType)))),
      cfg = MongoSource.MongoConfig(mode = "canonical"))
    tables("orders")
      .select(col("_id"), col("o_custkey"), col("o_totalprice"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("order_ms"))
      .orderBy("_id")
  }

  // ---------------------------------------------------------------
  // q78 — z-order layout + file skipping: orders clustered on the
  // Morton interleave of (o_custkey, o_totalprice) bucket indices,
  // physically written as 16 bit-prefix partitions (one shuffle),
  // then the per-file min/max skipping index is read BACK from the
  // written layout and a box predicate marks which files a pruned
  // scan would touch. Everything is closed-form (fixed-bound buckets,
  // no range sampling), so DuckDB restates the entire pipeline —
  // bucketing, 8-bit interleave, prefix pid, stats, pruning flag.
  // ---------------------------------------------------------------
  private def q78(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ZOrder
    val orders = t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val st = orders.agg(
      min(col("o_custkey").cast("double")), max(col("o_custkey").cast("double")),
      min(col("o_totalprice")), max(col("o_totalprice"))).head()
    val (xlo, xhi, ylo, yhi) =
      (st.getDouble(0), st.getDouble(1), st.getDouble(2), st.getDouble(3))
    val laid = ZOrder.assign(orders, "o_custkey", "o_totalprice",
      xlo, xhi, ylo, yhi, bits = 8, partitionBits = 4)
    val base = s"target/scratch/q78_${Scratch.key(dir)}"
    laid.repartition(col("pid")).sortWithinPartitions("zv")
      .write.mode("overwrite").partitionBy("pid").parquet(base)
    // the skipping index is computed over the layout AS WRITTEN
    val back = Tables.parquet(s, base)
    ZOrder.skippingStats(back, "o_custkey", "o_totalprice",
        xlo + 0.4 * (xhi - xlo), xlo + 0.6 * (xhi - xlo),
        ylo + 0.4 * (yhi - ylo), ylo + 0.6 * (yhi - ylo))
      .orderBy("pid")
  }

  // ---------------------------------------------------------------
  // q79 — STREAMING decontamination (q64's incremental twin, batch
  // parity): the same corpus as q64 flows through
  // Streams.decontaminateStream — stream-static broadcast join
  // against the eval gram index (stateless on the stream side), one
  // watermark-bounded windowed count. Registered in batch mode (the
  // unified Dataset API runs the identical plan); StreamsSpec runs
  // the MemoryStream side: append-mode parity + late-arrival drop.
  // Same answer as q64 by construction ⇒ same oracle.
  // ---------------------------------------------------------------
  private def q79(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val evalSet = docs.filter(col("doc_id") % 25 === 0)
    val train = docs.filter(col("doc_id") % 25 =!= 0)
      .unionByName(evalSet.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("zq "), col("text")).as("text")))
      .select(col("doc_id").as("train_id"), col("text"),
        // deterministic synthetic arrival time (2024-01-01 + id ms)
        timestamp_millis(lit(1704067200000L) + col("doc_id")).as("event_time"))
    val evalGrams = evalSet.select(col("doc_id").as("eval_id"),
      explode(graft.functions.TextHashes.wordShingleHashes(col("text"), 4))
        .as("gram"))
    Streams.decontaminateStream(train, evalGrams, nGram = 4, minShared = 3)
      .orderBy("train_id", "eval_id")
  }

  // ---------------------------------------------------------------
  // q80 — small-file compaction (lakehouse OPTIMIZE/bin-pack): the
  // documents table is deliberately shattered into 64 tiny files,
  // then compacted toward a byte target through a shuffle-free
  // coalesce rewrite with a staged rename swap. The contract output
  // is cross-engine-stateable: exact row preservation against the
  // source table plus the compaction-effect flag.
  // ---------------------------------------------------------------
  private def q80(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Compaction
    val base = Scratch.fresh(s, "q80", dir) + "/documents"
    val docs = t(s, dir, "documents")
    docs.repartition(64).write.parquet(base) // the "streaming ingest debris"
    val st = Compaction.compact(s, base, targetBytes = 64L * 1024 * 1024)
    import s.implicits._
    Seq((st.nRows,
        st.nRows == docs.count(),
        st.nFilesAfter < st.nFilesBefore / 4))
      .toDF("n_rows", "rows_preserved", "compacted")
  }

  // ---------------------------------------------------------------
  // q90 — global ORDER BY layout (total-order file clustering):
  // deterministic fixed-bound range pids (no sampled boundaries),
  // one shuffle to write, per-file min/max read BACK from the
  // written layout; gate checks disjoint increasing ranges across
  // the file order (monotone_ok via lag) and range-predicate
  // pruning. DuckDB restates the entire pipeline from lineitem.
  // ---------------------------------------------------------------
  private def q90(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.ZOrder
    val base = Scratch.fresh(s, "q90", dir)
    val li = t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice")
    val b = li.agg(min(col("l_extendedprice")).cast("double"),
      max(col("l_extendedprice")).cast("double")).head()
    val (lo, hi) = (b.getDouble(0), b.getDouble(1))
    // sort by (pid, v): the dynamic-partition write REQUIRES a sort
    // on the partition column and would insert its own (unstable,
    // pid-only) sort otherwise, destroying the value order inside
    // each file
    ZOrder.assignSorted(li, "l_extendedprice", lo, hi, 16)
      .repartition(col("pid"))
      .sortWithinPartitions("pid", "l_extendedprice")
      .write.partitionBy("pid").parquet(base)
    // stats come from the WRITTEN layout, not the pre-write plan
    val back = Tables.parquet(s, base)
      .groupBy(col("pid").cast("long").as("pid"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_extendedprice")).as("v_min"),
        max(col("l_extendedprice")).as("v_max"))
    val w = Window.orderBy("pid") // <= 16 rows: metadata-sized window
    val probeLo = lo + 0.45 * (hi - lo)
    val probeHi = lo + 0.55 * (hi - lo)
    back
      .withColumn("monotone_ok",
        coalesce(lag(col("v_max"), 1).over(w) < col("v_min"), lit(true)))
      .withColumn("would_scan",
        !(col("v_max") < probeLo || col("v_min") > probeHi))
      .orderBy("pid")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q90_sorted_layout" -> (q90 _),
    "q80_compaction" -> (q80 _),
    "q79_stream_decontaminate" -> (q79 _),
    "q78_zorder_layout" -> (q78 _),
    "q76_mongo_ingest" -> (q76 _),
    "q75_sheets_ingest" -> (q75 _),
    "q74_quantile_profile" -> (q74 _),
    "q73_rest_ingest" -> (q73 _),
    "q72_decontaminate_bloom" -> (q72 _),
    "q71_dbt_packages" -> (q71 _),
    "q70_archive_ingest" -> (q70 _),
    "q69_sql_models" -> (q69 _),
    "q68_correlation" -> (q68 _),
    "q67_run_ledger" -> (q67 _),
    "q66_stream_stream_join" -> (q66 _),
    "q64_decontaminate" -> (q64 _),
    "q65_repetition" -> (q65 _),
    "q58_profile_stats" -> (q58 _),
    "q59_stream_sink" -> (q59 _),
    "q60_stream_static_join" -> (q60 _),
    "q61_incremental_strategies" -> (q61 _),
    "q62_dag_selectors" -> (q62 _),
    "q63_seeds" -> (q63 _),
    "q46_pivot" -> (q46 _),
    "q47_unpivot" -> (q47 _),
    "q48_cube_grouping" -> (q48 _),
    "q49_window_funcs2" -> (q49 _),
    "q50_salted_skew_agg" -> (q50 _),
    "q51_semi_anti_join" -> (q51 _),
    "q52_set_ops" -> (q52 _),
    "q53_sample_stratified" -> (q53 _),
    "q54_filter_funnel" -> (q54 _),
    "q55_pii_redact" -> (q55 _),
    "q56_stream_dedup" -> (q56 _),
    "q57_stream_sessionize" -> (q57 _))

  /** Per-column profile row mirroring Profile.numeric's math exactly
    * (decimal power sums → double combination, same operation order).
    */
  private def profileSql(c: String): String =
    s"""SELECT '$c' AS column_name,
       |  count($c) AS n_nonnull,
       |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       |  count(DISTINCT $c) AS n_distinct,
       |  CAST(min($c) AS DOUBLE) AS min_v,
       |  CAST(max($c) AS DOUBLE) AS max_v,
       |  CAST(sum(CAST($c AS DECIMAL(18,4))) AS DOUBLE) / count($c) AS mean,
       |  CASE WHEN count($c) > 1 THEN
       |    (CAST(sum(CAST($c AS DECIMAL(19,4)) * CAST($c AS DECIMAL(19,4))) AS DOUBLE)
       |      - CAST(sum(CAST($c AS DECIMAL(18,4))) AS DOUBLE)
       |        * CAST(sum(CAST($c AS DECIMAL(18,4))) AS DOUBLE) / count($c))
       |      / (count($c) - 1)
       |  END AS var_samp
       |FROM orders""".stripMargin

  /** Pearson r mirroring Profile.correlation's exact operation order:
    * decimal sums → double, dx = n·Σx² − (Σx)², r = (n·Σxy − ΣxΣy) /
    * sqrt(dx·dy). DECIMAL(19,4) products force DuckDB onto int128.
    */
  private def corrSql(x: String, y: String): String = {
    def s1(c: String) = s"CAST(sum(CAST($c AS DECIMAL(18,4))) AS DOUBLE)"
    def s2(a: String, b: String) =
      s"CAST(sum(CAST($a AS DECIMAL(19,4)) * CAST($b AS DECIMAL(19,4))) AS DOUBLE)"
    val n = "CAST(count(*) AS DOUBLE)"
    val dx = s"($n * ${s2(x, x)} - ${s1(x)} * ${s1(x)})"
    val dy = s"($n * ${s2(y, y)} - ${s1(y)} * ${s1(y)})"
    s"""SELECT '${x}__$y' AS pair, count(*) AS n_rows,
       |  round(CASE WHEN $dx > 0 AND $dy > 0 THEN
       |    ($n * ${s2(x, y)} - ${s1(x)} * ${s1(y)}) / sqrt($dx * $dy)
       |  END, 9) AS corr
       |FROM orders""".stripMargin
  }

  /** Shared oracle for q64/q72: both compute train docs sharing ≥3
    * distinct word 4-grams with an eval doc; q72 merely routes the
    * same computation through the bloom-prefiltered two-phase plan.
    */
  private val decontaminateSql: String =
    s"""WITH ev AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0
      |), tr AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 25 <> 0
      |  UNION ALL SELECT doc_id + 1000000, 'zq ' || text FROM ev
      |), esets AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) < 4 THEN [array_to_string(t, ' ')]
      |         ELSE list_distinct(list_transform(range(1, len(t) - 2),
      |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
      |    END AS g
      |  FROM (SELECT doc_id,
      |          ${TextHashes.wordTokensSql("text")} AS t
      |        FROM ev)
      |), tsets AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) < 4 THEN [array_to_string(t, ' ')]
      |         ELSE list_distinct(list_transform(range(1, len(t) - 2),
      |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
      |    END AS g
      |  FROM (SELECT doc_id,
      |          ${TextHashes.wordTokensSql("text")} AS t
      |        FROM tr)
      |)
      |SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
      |  CAST(len(list_intersect(t.g, e.g)) AS BIGINT) AS n_shared
      |FROM tsets t JOIN esets e ON len(list_intersect(t.g, e.g)) >= 3
      |ORDER BY train_id, eval_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q71_dbt_packages" ->
      """SELECT l_returnflag, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q70_archive_ingest" ->
      """SELECT r_name, count(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q69_sql_models" ->
      """WITH stg AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |), ct AS (
        |  SELECT o_custkey, count(*) AS n_orders,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total_price
        |  FROM stg GROUP BY o_custkey
        |)
        |SELECT c_mktsegment AS segment, count(*) AS n_customers,
        |  CAST(sum(total_price) AS DOUBLE) AS revenue,
        |  CAST(sum(n_orders) AS BIGINT) AS n_orders
        |FROM ct JOIN customer ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY segment""".stripMargin,
    "q68_correlation" ->
      Seq(("o_custkey", "o_totalprice"), ("o_orderkey", "o_custkey"),
        ("o_orderkey", "o_totalprice"))
        .map { case (x, y) => corrSql(x, y) }
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY pair"),
    // golden: stamps are fixed; window [4e6, 1e7] admits only
    // pipeline_a's second success (b's success is stale, its fresh
    // run failed; c never succeeded)
    "q67_run_ledger" ->
      """SELECT * FROM (VALUES
        |  ('pipeline_a', true, CAST(5000000 AS BIGINT)),
        |  ('pipeline_b', false, CAST(NULL AS BIGINT)),
        |  ('pipeline_c', false, CAST(NULL AS BIGINT))
        |) AS t(target, satisfied, last_success_ms)
        |ORDER BY target""".stripMargin,
    "q66_stream_stream_join" ->
      """WITH c AS (
        |  SELECT user_id, event_id AS click_id,
        |    epoch_ns(ts) // 1000000 AS click_ms
        |  FROM events WHERE event_type = 'click'
        |    AND ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
        |), p AS (
        |  SELECT user_id, event_id AS purch_id,
        |    epoch_ns(ts) // 1000000 AS purch_ms
        |  FROM events WHERE event_type = 'purchase'
        |    AND ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
        |)
        |SELECT c.user_id, c.click_id, p.purch_id, c.click_ms, p.purch_ms
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.purch_ms >= c.click_ms
        |  AND p.purch_ms <= c.click_ms + 86400000
        |ORDER BY c.user_id, c.click_id, p.purch_id""".stripMargin,
    // q74: exact side must equal quantile_disc (same ceil(q·n) type-1
    // convention, probed); the approx side is asserted via its flag
    "q74_quantile_profile" ->
      """WITH qs AS (SELECT unnest(CAST([0.25,0.5,0.75,0.95,0.99] AS DOUBLE[])) AS q),
        |vals AS (
        |  SELECT 'l_quantity' AS column_name, CAST(l_quantity AS DOUBLE) AS v
        |  FROM lineitem WHERE l_quantity IS NOT NULL
        |  UNION ALL SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE)
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |  UNION ALL SELECT 'l_discount', CAST(l_discount AS DOUBLE)
        |  FROM lineitem WHERE l_discount IS NOT NULL
        |), ranked AS (
        |  SELECT column_name, v,
        |    row_number() OVER (PARTITION BY column_name ORDER BY v) AS rn,
        |    count(*) OVER (PARTITION BY column_name) AS n
        |  FROM vals
        |)
        |SELECT r.column_name, qs.q, r.v AS exact_v, true AS approx_ok
        |FROM ranked r
        |JOIN qs ON r.rn = greatest(1, CAST(ceil(qs.q * r.n) AS BIGINT))
        |ORDER BY column_name, q""".stripMargin,
    // q73 round-trips nation through the REST source; the oracle is
    // the table itself
    "q73_rest_ingest" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin,
    // q75 round-trips supplier+nation through the Sheets API shapes;
    // the oracle recomputes the join from the source tables
    "q75_sheets_ingest" ->
      """SELECT n_name, count(*) AS n_suppliers
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    // q76 round-trips an orders subset through canonical Extended
    // JSON; oid hex, long, shortest-repr double, and ms-epoch date
    // must all survive exactly
    "q76_mongo_ingest" ->
      """SELECT printf('%024x', o_orderkey) AS _id, o_custkey,
        |  o_totalprice, epoch_ms(o_orderdate) AS order_ms
        |FROM orders WHERE o_orderkey < 6000
        |ORDER BY _id""".stripMargin,
    // q78 restates the whole z-order pipeline: fixed-bound buckets,
    // Morton interleave, bit-prefix pid, per-file min/max, box flag
    "q78_zorder_layout" ->
      s"""WITH s AS (
         |  SELECT CAST(min(o_custkey) AS DOUBLE) AS xlo,
         |    CAST(max(o_custkey) AS DOUBLE) AS xhi,
         |    min(o_totalprice) AS ylo, max(o_totalprice) AS yhi
         |  FROM orders
         |), b AS (
         |  SELECT o_custkey, o_totalprice, xlo, xhi, ylo, yhi,
         |    CAST(floor(((CAST(o_custkey AS DOUBLE) - xlo) * 256.0)
         |      / ((xhi - xlo) + 1e-9)) AS BIGINT) AS xb,
         |    CAST(floor(((CAST(o_totalprice AS DOUBLE) - ylo) * 256.0)
         |      / ((yhi - ylo) + 1e-9)) AS BIGINT) AS yb
         |  FROM orders, s
         |), z AS (
         |  SELECT *, (${graft.ops.ZOrder.z2Sql("xb", "yb", 8)}) AS zv FROM b
         |), g AS (
         |  SELECT zv >> 12 AS pid, count(*) AS n_rows,
         |    min(o_custkey) AS x_min, max(o_custkey) AS x_max,
         |    min(o_totalprice) AS y_min, max(o_totalprice) AS y_max,
         |    min(xlo) AS xlo, min(xhi) AS xhi,
         |    min(ylo) AS ylo, min(yhi) AS yhi
         |  FROM z GROUP BY 1
         |)
         |SELECT pid, n_rows, x_min, x_max, y_min, y_max,
         |  NOT (x_max < xlo + 0.4 * (xhi - xlo)
         |    OR x_min > xlo + 0.6 * (xhi - xlo)
         |    OR y_max < ylo + 0.4 * (yhi - ylo)
         |    OR y_min > ylo + 0.6 * (yhi - ylo)) AS would_scan
         |FROM g ORDER BY pid""".stripMargin,
    // q72 runs the same decontamination through the bloom-prefiltered
    // plan; identical answer ⇒ identical oracle
    "q72_decontaminate_bloom" -> decontaminateSql,
    "q64_decontaminate" -> decontaminateSql,
    // q79 streams the identical computation; same answer, same oracle
    "q79_stream_decontaminate" -> decontaminateSql,
    // q80: the rewrite must preserve every row of the shattered
    // table and actually collapse the file count
    "q80_compaction" ->
      """SELECT count(*) AS n_rows, TRUE AS rows_preserved,
        |  TRUE AS compacted FROM documents""".stripMargin,
    "q90_sorted_layout" ->
      """WITH s AS (
        |  SELECT CAST(min(l_extendedprice) AS DOUBLE) AS lo,
        |    CAST(max(l_extendedprice) AS DOUBLE) AS hi
        |  FROM lineitem
        |), b AS (
        |  SELECT l_extendedprice AS v, lo, hi,
        |    CAST(floor(((CAST(l_extendedprice AS DOUBLE) - lo) * 16.0)
        |      / ((hi - lo) + 1e-9)) AS BIGINT) AS pid
        |  FROM lineitem, s
        |), g AS (
        |  SELECT pid, count(*) AS n_rows, min(v) AS v_min, max(v) AS v_max,
        |    min(lo) AS lo, min(hi) AS hi
        |  FROM b GROUP BY pid
        |)
        |SELECT pid, n_rows, v_min, v_max,
        |  COALESCE(lag(v_max) OVER (ORDER BY pid) < v_min, TRUE) AS monotone_ok,
        |  NOT (v_max < lo + 0.45 * (hi - lo)
        |    OR v_min > lo + 0.55 * (hi - lo)) AS would_scan
        |FROM g ORDER BY pid""".stripMargin,
    "q65_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        |), grams AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |    i -> t[i] || ' ' || t[i + 1])) AS gram
        |  FROM toks
        |), mult AS (
        |  SELECT doc_id, max(n) AS max_rep FROM (
        |    SELECT doc_id, gram, count(*) AS n FROM grams GROUP BY 1, 2
        |  ) GROUP BY doc_id
        |)
        |SELECT k.doc_id,
        |  CAST(greatest(len(k.t) - 1, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(m.max_rep, 0) AS BIGINT) AS max_rep,
        |  CASE WHEN len(k.t) - 1 <= 0 THEN 0.0
        |       ELSE CAST(coalesce(m.max_rep, 0) AS DOUBLE) / (len(k.t) - 1)
        |  END AS rep_ratio
        |FROM toks k LEFT JOIN mult m ON k.doc_id = m.doc_id
        |ORDER BY k.doc_id""".stripMargin,
    "q58_profile_stats" ->
      Seq("o_custkey", "o_orderkey", "o_totalprice")
        .map(profileSql)
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY column_name"),
    "q59_stream_sink" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q60_stream_static_join" ->
      """SELECT c_nationkey, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q61_incremental_strategies" ->
      """WITH e AS (
        |  SELECT o_custkey, o_totalprice AS price
        |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |          ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |        FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01')
        |  WHERE rn = 1
        |), b AS (
        |  SELECT o_custkey, o_totalprice AS price
        |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |          ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |        FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01')
        |  WHERE rn = 1
        |), ekeep AS (
        |  SELECT * FROM e WHERE o_custkey NOT IN (SELECT o_custkey FROM b)
        |)
        |SELECT * FROM (
        |  SELECT '1_append_evolve' AS strategy,
        |    (SELECT count(*) FROM e) + (SELECT count(*) FROM b) AS n_rows,
        |    (SELECT count(*) FROM b) AS n_flagged,
        |    CAST((SELECT sum(CAST(price AS DECIMAL(18,2))) FROM
        |      (SELECT price FROM e UNION ALL SELECT price FROM b)) AS DOUBLE) AS sum_price
        |  UNION ALL
        |  SELECT '2_merge_evolve',
        |    (SELECT count(*) FROM ekeep) + (SELECT count(*) FROM b),
        |    (SELECT count(*) FROM b),
        |    CAST((SELECT sum(CAST(price AS DECIMAL(18,2))) FROM
        |      (SELECT price FROM ekeep UNION ALL SELECT price FROM b)) AS DOUBLE)
        |  UNION ALL
        |  SELECT '3_delete_insert_ignore',
        |    (SELECT count(*) FROM ekeep) + (SELECT count(*) FROM b),
        |    0,
        |    CAST((SELECT sum(CAST(price AS DECIMAL(18,2))) FROM
        |      (SELECT price FROM ekeep UNION ALL SELECT price FROM b)) AS DOUBLE)
        |) ORDER BY strategy""".stripMargin,
    "q62_dag_selectors" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q63_seeds" ->
      """SELECT * FROM (
        |  SELECT 'nation' AS seed_name, count(*) AS n_rows FROM nation
        |  UNION ALL SELECT 'region', count(*) FROM region
        |) ORDER BY seed_name""".stripMargin,
    "q46_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS F_n,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS F_sp,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS O_n,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS O_sp,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS P_n,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS P_sp
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q47_unpivot" ->
      """WITH wide AS (
        |  SELECT c_nationkey,
        |    CAST(count(*) AS DOUBLE) AS n_customers,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal,
        |    max(c_acctbal) AS max_acctbal
        |  FROM customer GROUP BY c_nationkey
        |)
        |SELECT c_nationkey, metric, value FROM (
        |  SELECT c_nationkey, 'n_customers' AS metric, n_customers AS value FROM wide
        |  UNION ALL SELECT c_nationkey, 'total_acctbal', total_acctbal FROM wide
        |  UNION ALL SELECT c_nationkey, 'max_acctbal', max_acctbal FROM wide
        |) ORDER BY c_nationkey, metric""".stripMargin,
    "q48_cube_grouping" ->
      """SELECT CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  o_orderstatus, o_orderpriority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin,
    "q49_window_funcs2" ->
      """SELECT o_custkey, o_orderkey,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  first_value(o_orderkey) OVER w AS first_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q50_salted_skew_agg" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  min(epoch_ns(ts)) // 1000000 AS min_ms,
        |  max(epoch_ns(ts)) // 1000000 AS max_ms
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q51_semi_anti_join" ->
      """WITH recent AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        |), a AS (
        |  SELECT c_nationkey, count(*) AS n_active FROM customer
        |  WHERE c_custkey IN (SELECT o_custkey FROM recent) GROUP BY 1
        |), d AS (
        |  SELECT c_nationkey, count(*) AS n_dormant FROM customer
        |  WHERE c_custkey NOT IN (SELECT o_custkey FROM recent) GROUP BY 1
        |)
        |SELECT coalesce(a.c_nationkey, d.c_nationkey) AS c_nationkey,
        |  coalesce(n_active, 0) AS n_active,
        |  coalesce(n_dormant, 0) AS n_dormant
        |FROM a FULL OUTER JOIN d ON a.c_nationkey = d.c_nationkey
        |ORDER BY c_nationkey""".stripMargin,
    "q52_set_ops" ->
      """SELECT * FROM (
        |  SELECT '1_retained' AS segment, count(*) AS n_customers FROM (
        |    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        |    INTERSECT
        |    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
        |  UNION ALL
        |  SELECT '2_churned', count(*) FROM (
        |    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        |    EXCEPT
        |    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
        |  UNION ALL
        |  SELECT '3_new', count(*) FROM (
        |    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
        |    EXCEPT
        |    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
        |) ORDER BY segment""".stripMargin,
    "q53_sample_stratified" ->
      """SELECT o_orderpriority, count(*) AS n_sampled,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_orderkey % (CASE o_orderpriority
        |    WHEN '1-URGENT' THEN 7 WHEN '2-HIGH' THEN 13 ELSE 29 END) = 0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q54_filter_funnel" ->
      s"""SELECT * FROM (
         |  SELECT '0_input' AS stage, count(*) AS n_pass FROM documents
         |  UNION ALL SELECT '1_min_tokens',
         |    CAST(sum(CASE WHEN $WsTok >= 20 THEN 1 ELSE 0 END) AS BIGINT)
         |  FROM documents
         |  UNION ALL SELECT '2_lexical_diversity',
         |    CAST(sum(CASE WHEN $WsTok >= 20 AND $DistinctRatio >= 0.3
         |      THEN 1 ELSE 0 END) AS BIGINT)
         |  FROM documents
         |  UNION ALL SELECT '3_quality',
         |    CAST(sum(CASE WHEN $WsTok >= 20 AND $DistinctRatio >= 0.3
         |      AND $Quality >= 0.35 THEN 1 ELSE 0 END) AS BIGINT)
         |  FROM documents
         |) ORDER BY stage""".stripMargin,
    "q55_pii_redact" ->
      s"""WITH injected AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 10 = 0
         |      THEN text || ' contact: user' || CAST(doc_id AS VARCHAR)
         |        || '@example.com or 5551234567'
         |      ELSE text END AS text
         |  FROM documents
         |)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$NumRe')) AS BIGINT) AS n_numbers,
         |  CAST(length(regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
         |    '$NumRe', '<NUM>', 'g')) AS BIGINT) AS redacted_len
         |FROM injected ORDER BY doc_id""".stripMargin,
    "q56_stream_dedup" ->
      "SELECT DISTINCT user_id FROM events ORDER BY user_id",
    // gap-closed sessions (a later session exists for the user) plus
    // final sessions flushed because the end-of-stream watermark
    // (max event ms − 1 h) strictly passed last_event + gap
    "q57_stream_sessionize" ->
      """WITH m AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_ns(ts) - epoch_ns(lag(ts) OVER w) > 1800000000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sess AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM m
        |), agg AS (
        |  SELECT user_id, session_id, count(*) AS n_events,
        |    min(epoch_ns(ts)) // 1000000 AS start_ms,
        |    max(epoch_ns(ts)) // 1000000 AS end_ms,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |  FROM sess GROUP BY user_id, session_id
        |), wm AS (
        |  SELECT max(epoch_ns(ts)) // 1000000 - 3600000 AS w FROM events
        |)
        |SELECT a.user_id, a.session_id, a.n_events, a.start_ms, a.end_ms,
        |  a.sum_value
        |FROM agg a
        |WHERE EXISTS (SELECT 1 FROM agg b
        |        WHERE b.user_id = a.user_id AND b.session_id > a.session_id)
        |   OR a.end_ms + 1800000 < (SELECT w FROM wm)
        |ORDER BY a.user_id, a.session_id""".stripMargin)

  // SQL fragment aliases (shared with PipelineEntry's oracle
  // builders). Regexes embed verbatim: DuckDB single-quoted strings
  // don't process backslashes, so Scala's "\\." arrives at RE2 as \.
  private def WsTok = PipelineEntry.WsTokSql
  private def DistinctRatio = PipelineEntry.DistinctRatioSql
  private def Quality = PipelineEntry.QualitySql
  private def EmailRe = TextAnalysis.EmailRe
  private def NumRe = TextAnalysis.LongNumberRe
}
