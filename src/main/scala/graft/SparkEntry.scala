package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{AsOfJoin, IncrementalModel, RangeJoin, RowFilters, SchemaContract, Sessionize, Snapshot, Writer}
import graft.ops.RowFilters._
import graft.quality.{Checks, Freshness}
import graft.sources.{Catalog, FileSource, Incremental, Tables}
import graft.sources.Tables.{load => t}
import graft.dag.Dag
import graft.streaming.Streams

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every entry returns a DETERMINISTIC DataFrame (explicit ORDER BY,
  * quantized floats, ms-quantized event timestamps) so the driver's
  * DuckDB hash-compare is stable across engines.
  */
object SparkEntry {

  /** Epoch-ms of a (possibly NTZ) timestamp column; session tz is UTC
    * so the cast is value-preserving. Matches DuckDB's epoch_ms().
    */
  private def epochMs(c: org.apache.spark.sql.Column) =
    unix_millis(c.cast("timestamp"))

  /** Money arithmetic: sums of doubles are ORDER-DEPENDENT, and
    * shuffle order differs between engines (and between runs) — a sum
    * landing on a display-digit boundary flips the 9th significant
    * digit and fails the hash compare. Casting the 2-dp source values
    * to decimal makes every sum exact and order-independent; the final
    * cast back to double is then deterministic in both engines.
    * (A stored double is never exactly halfway at 2 dp, so the
    * double→decimal rounding is unambiguous.)
    */
  private def dec2(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_full_scan_agg")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------
  // q01 — full-scan grouped aggregate (load-then-aggregate path).
  // Shape of TPC-H Q1: partial (map-side) aggregation then a single
  // hash exchange on 2 low-cardinality keys — the optimal plan at
  // any scale; no row ever leaves the executor unaggregated.
  // ---------------------------------------------------------------
  private def q01(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    l.filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"), // integral: exact
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        (sum("l_quantity").cast("double") / count(lit(1))).as("avg_qty"),
        (sum(dec2(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // ---------------------------------------------------------------
  // q02 — the reference's 8 row-filter operators compiled to Catalyst
  // predicates (all of them reach the parquet scan as PushedFilters).
  // ---------------------------------------------------------------
  private def q02(s: SparkSession, dir: String): DataFrame = {
    val filters = Seq(
      RowFilter("o_orderstatus", Eq, "O"),
      RowFilter("o_orderdate", Ne, java.sql.Timestamp.valueOf("1995-01-01 00:00:00")),
      RowFilter("o_totalprice", Gt, 1000.0),
      RowFilter("o_totalprice", Lt, 400000.0),
      RowFilter("o_orderkey", Gte, 10L),
      RowFilter("o_orderdate", Lte, java.sql.Timestamp.valueOf("2001-06-01 00:00:00")),
      RowFilter("o_orderpriority", In, Seq("1-URGENT", "2-HIGH", "3-MEDIUM")),
      RowFilter("o_custkey", NotIn, Seq(1L, 2L, 3L)))
    RowFilters(t(s, dir, "orders"), filters)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .orderBy("o_orderkey")
  }

  // ---------------------------------------------------------------
  // q03 — star join: fact tables join on their keys; every dimension
  // is explicitly broadcast (region/nation/supplier are tiny at any
  // SF), so the only shuffle is lineitem⋈orders⋈customer on keys.
  // ---------------------------------------------------------------
  private def q03(s: SparkSession, dir: String): DataFrame = {
    val customer = t(s, dir, "customer")
    val orders = t(s, dir, "orders")
    val lineitem = t(s, dir, "lineitem")
    val nation = broadcast(t(s, dir, "nation"))
    val region = broadcast(t(s, dir, "region"))
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      .groupBy(col("n_name"))
      .agg(
        sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  // ---------------------------------------------------------------
  // q04 — cursor incremental extract: the watermark predicate is
  // pushed into the scan (row-group skipping / partition pruning).
  // First run ⇒ closed range on initial_value (dlt semantics).
  // ---------------------------------------------------------------
  private def q04(s: SparkSession, dir: String): DataFrame =
    Incremental
      .extract(t(s, dir, "orders"), "o_orderdate",
        initialValue = Some(java.sql.Timestamp.valueOf("1999-06-01 00:00:00")),
        rowOrder = Some("asc"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"))
      .orderBy("o_orderkey")

  // ---------------------------------------------------------------
  // q05 — dlt `merge` write disposition: destination rows whose PK
  // appears in the batch are deleted, all batch rows inserted.
  // One hash shuffle on the PK; no driver loops.
  // ---------------------------------------------------------------
  private def q05(s: SparkSession, dir: String): DataFrame = {
    // events.ts is read as epoch-nanos long (see Tables.load)
    val events = t(s, dir, "events")
      .withColumn("ts_ms", expr("ts div 1000000"))
    val cutoff = lit(Tables.epochNs("2024-01-20T00:00:00Z"))
    val existing = events.filter(col("ts") < cutoff)
    val batch = events.filter(col("ts") >= cutoff)
    Writer.merge(existing, batch, Seq("user_id"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_ms")).as("first_ms"),
        max(col("ts_ms")).as("last_ms"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------
  // q06 — `replace` + `append` dispositions, summarized side by side.
  // ---------------------------------------------------------------
  private def q06(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val cutoff = lit("1999-01-01").cast("timestamp")
    val existing = orders.filter(col("o_orderdate") < cutoff)
    val batch = orders.filter(col("o_orderdate") >= cutoff)
    val appended = Writer.append(existing, batch)
    val replaced = Writer.replace(existing, batch)
    def summarize(df: DataFrame, label: String): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
        sum(dec2(col("o_totalprice"))).cast("double").as("sum_price"))
        .select(lit(label).as("disposition"), col("n_rows"), col("sum_price"))
    summarize(appended, "append").unionByName(summarize(replaced, "replace"))
      .orderBy("disposition")
  }

  // ---------------------------------------------------------------
  // q07 — schema contract `columns: evolve`: a later batch arrives
  // with a new column; union-by-name backfills nulls. No shuffle —
  // evolve is a metadata operation plus a scan.
  // ---------------------------------------------------------------
  private def q07(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val cutoff = lit("1997-01-01").cast("timestamp")
    val batch1 = orders.filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val batch2 = orders.filter(col("o_orderdate") >= cutoff)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    SchemaContract.evolveUnion(batch1, batch2)
      .groupBy(col("o_orderpriority").isNotNull.cast("int").as("has_new_col"))
      .agg(count(lit(1)).as("n_rows"),
        sum(dec2(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy("has_new_col")
  }

  // ---------------------------------------------------------------
  // q08 — contracts freeze / discard_value / discard_row against a
  // drifted batch (new column + uncastable values), as metric rows.
  // All five metrics derive from SchemaContract.violationProbe — ONE
  // aggregate scan of the batch, not one scan per contract mode.
  // ---------------------------------------------------------------
  private def q08(s: SparkSession, dir: String): DataFrame = {
    import SchemaContract._
    val orders = t(s, dir, "orders")
    val targetCols = orders.columns.toSeq
    // drift: new column `extra_flag` (non-null on even keys) + type
    // drift on o_custkey (stringified, uncastable on keys % 3 == 0)
    val drifted = orders
      .withColumn("extra_flag",
        when(col("o_orderkey") % 2 === 0, lit(1)).otherwise(lit(null).cast("int")))
      .withColumn("o_custkey",
        when(col("o_orderkey") % 3 === 0,
          concat(col("o_custkey").cast("string"), lit("x")))
          .otherwise(col("o_custkey").cast("string")))
    val types = Map("o_custkey" -> org.apache.spark.sql.types.LongType)

    // metadata-only: DiscardValue's surviving column count
    val keptCols = applyColumns(targetCols, drifted, DiscardValue).columns.length.toLong

    violationProbe(targetCols, types, drifted)
      .select(explode(array(
        struct(lit("columns_discard_row_rows").as("metric"),
          (col("total_rows") - col("unknown_value_rows")).as("value")),
        struct(lit("columns_discard_value_cols").as("metric"),
          lit(keptCols).as("value")),
        struct(lit("data_type_discard_value_nulls").as("metric"),
          col("type_failed_rows").as("value")),
        struct(lit("data_type_discard_row_rows").as("metric"),
          (col("total_rows") - col("type_failed_rows")).as("value")),
        struct(lit("freeze_violations").as("metric"),
          col("type_failed_rows").as("value")))).as("r"))
      .select("r.*")
      .orderBy("metric")
  }

  // ---------------------------------------------------------------
  // q09 — dbt incremental materialization, merge strategy: existing
  // model state + a newer batch, upserted on unique_key. One PK
  // shuffle; the is_incremental watermark is pushed into the scan.
  // ---------------------------------------------------------------
  private def latestPerCustomer(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    orders.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("o_custkey"), epochMs(col("o_orderdate")).as("last_ms"),
        col("o_totalprice").as("price"))
  }

  private def q09(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val cutoff = lit("1999-01-01").cast("timestamp")
    val existing = latestPerCustomer(orders.filter(col("o_orderdate") < cutoff))
    val batch = latestPerCustomer(orders.filter(col("o_orderdate") >= cutoff))
    IncrementalModel.run(existing, batch, Seq("o_custkey"),
        IncrementalModel.Merge)
      .orderBy("o_custkey")
  }

  // ---------------------------------------------------------------
  // q10 — SCD2 snapshot, timestamp strategy, applied twice (state at
  // 1998-01-01, then the current state).
  // ---------------------------------------------------------------
  private def q10(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val orders = t(s, dir, "orders")
    def state(df: DataFrame): DataFrame = {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("o_custkey").as("k"), col("o_orderdate").as("u"),
          col("o_totalprice").as("price"))
    }
    val s1 = state(orders.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")))
    val s2 = state(orders)
    val snap1 = Snapshot.timestamp(None, s1, Seq("k"), "u")
    val snap2 = Snapshot.timestamp(Some(snap1), s2, Seq("k"), "u")
    snap2.select(col("k"),
      epochMs(col(Snapshot.ValidFrom)).as("valid_from_ms"),
      epochMs(col(Snapshot.ValidTo)).as("valid_to_ms"),
      col("price"),
      col(Snapshot.ValidTo).isNull.cast("int").as("is_current"))
      .orderBy("k", "valid_from_ms")
  }

  // ---------------------------------------------------------------
  // q11 — SCD2 snapshot, check strategy (check_cols change
  // detection), run stamps passed explicitly for reproducibility.
  // ---------------------------------------------------------------
  private def q11(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    def state(df: DataFrame): DataFrame =
      df.groupBy(col("o_custkey").as("k"))
        .agg(count(lit(1)).as("n_orders"),
          round(max("o_totalprice"), 2).as("max_price"))
    val s1 = state(orders.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")))
    val s2 = state(orders)
    val snap1 = Snapshot.check(None, s1, Seq("k"), Seq("n_orders", "max_price"), lit(100L))
    val snap2 = Snapshot.check(Some(snap1), s2, Seq("k"), Seq("n_orders", "max_price"), lit(200L))
    snap2.select(col("k"), col("n_orders"), col("max_price"),
      col(Snapshot.ValidFrom).as("valid_from"),
      col(Snapshot.ValidTo).as("valid_to"),
      col(Snapshot.ValidTo).isNull.cast("int").as("is_current"))
      .orderBy("k", "valid_from")
  }

  // ---------------------------------------------------------------
  // q12 — generic data tests not_null + unique (dbt test set). The
  // not_null checks fuse into one scan; unique is one groupBy per
  // tested column.
  // ---------------------------------------------------------------
  private def q12(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    Checks.run(orders, Map(
      "o_orderkey" -> Seq(Checks.NotNull, Checks.Unique),
      "o_custkey" -> Seq(Checks.NotNull, Checks.Unique),
      "o_orderstatus" -> Seq(Checks.NotNull)))
      .orderBy("check_name", "column_name")
  }

  // ---------------------------------------------------------------
  // q13 — accepted_values + relationships (FK orphans). The parent
  // keyset is distinct-projected; orphan counting is one anti-join.
  // ---------------------------------------------------------------
  private def q13(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val customer = t(s, dir, "customer")
    val lineitem = t(s, dir, "lineitem")
    // restrict the parent set so orphans exist (post-1998 orders are
    // "not yet loaded" parents)
    val loadedOrders = orders.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val onOrders = Checks.run(orders, Map(
      "o_orderstatus" -> Seq(Checks.AcceptedValues(Seq("O", "F"))),
      "o_custkey" -> Seq(Checks.Relationships(customer, "c_custkey"))))
    val onLineitem = Checks.run(lineitem, Map(
      "l_orderkey" -> Seq(Checks.Relationships(loadedOrders, "o_orderkey"))))
    onOrders.unionByName(onLineitem).orderBy("check_name", "column_name")
  }

  // ---------------------------------------------------------------
  // q14 — source freshness: one max() aggregate per source vs
  // warn_after/error_after, pinned as-of for reproducibility.
  // ---------------------------------------------------------------
  private val FreshAsOfMs = 1707955200000L // 2024-02-15T00:00:00Z

  private def q14(s: SparkSession, dir: String): DataFrame = {
    val day = 86400L
    val events = Freshness.check(t(s, dir, "events"), "events",
      expr("ts div 1000000"), FreshAsOfMs, 20 * day, 30 * day)
    val orders = Freshness.check(t(s, dir, "orders"), "orders",
      epochMs(col("o_orderdate")), FreshAsOfMs, 7000 * day, 8500 * day)
    val lineitem = Freshness.check(t(s, dir, "lineitem"), "lineitem",
      epochMs(col("l_shipdate")), FreshAsOfMs, 3000 * day, 8000 * day)
    events.unionByName(orders).unionByName(lineitem).orderBy("table_name")
  }

  // ---------------------------------------------------------------
  // q15 — CSV + JSON ingestion: round-trip two dims through csv/json
  // files (written to a scratch dir), read them back through
  // FileSource with explicit schemas, snake_case-normalize, join+agg.
  // ---------------------------------------------------------------
  private def q15(s: SparkSession, dir: String): DataFrame = {
    val scratch = s"target/scratch/q15_${Scratch.key(dir)}"
    val nation = t(s, dir, "nation")
    val region = t(s, dir, "region")
    // two independent write jobs — submit concurrently
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    Await.result(Future.sequence(Seq(
      Future(nation.coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(s"$scratch/nation_csv")),
      Future(region.coalesce(1).write.mode("overwrite")
        .json(s"$scratch/region_json")))), Duration.Inf)
    val nCsv = FileSource.normalizeColumns(
      FileSource.read(s, "csv", s"$scratch/nation_csv", schema = Some(nation.schema)))
    val rJson = FileSource.normalizeColumns(
      FileSource.read(s, "json", s"$scratch/region_json", schema = Some(region.schema)))
    nCsv.join(broadcast(rJson), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_nations"))
      .orderBy("r_name")
  }

  // ---------------------------------------------------------------
  // q16 — catalog introspection over every table in the dir
  // (schema from parquet footers, counts from footer statistics).
  // ---------------------------------------------------------------
  private def q16(s: SparkSession, dir: String): DataFrame =
    Catalog.introspect(s, dir, Tables.names)
      .orderBy("table_name", "ordinal")

  // ---------------------------------------------------------------
  // q17 — the SQL-editor path: register all tables as views and run
  // user SQL verbatim. The SAME string is the DuckDB oracle.
  // ---------------------------------------------------------------
  private val Q17Sql =
    """SELECT n_name, count(*) AS n_suppliers,
      |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  private def q17(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(Q17Sql)
  }

  // ---------------------------------------------------------------
  // q18 — DAG of chained models (staging → fact → summary) built and
  // topologically executed; the composed plan is ONE Catalyst tree,
  // so the optimizer sees through model boundaries.
  // ---------------------------------------------------------------
  private def q18(s: SparkSession, dir: String): DataFrame = {
    val models = Seq(
      Dag.Model("stg_orders", Nil,
        _ => t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))),
      Dag.Model("stg_lineitem", Nil,
        _ => t(s, dir, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount")),
      Dag.Model("fct_sales", Seq("stg_orders", "stg_lineitem"),
        m => m("stg_lineitem")
          .join(m("stg_orders"), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_items"),
            // keep revenue DECIMAL through the model chain: the
            // summary re-sums it, and double sums are order-dependent
            sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
              .as("revenue"))),
      Dag.Model("summary", Seq("fct_sales"),
        m => m("fct_sales")
          .groupBy(col("n_items"))
          .agg(count(lit(1)).as("n_customers"),
            sum(col("revenue")).cast("double").as("total_rev"))))
    Dag.run(models)("summary").orderBy("n_items")
  }

  // ---------------------------------------------------------------
  // q19 — window functions: rank + running sum per customer. Both
  // windows share one partitioning → a single Exchange+Sort.
  // ---------------------------------------------------------------
  private def q19(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        rank().over(w).as("rk"),
        // decimal window sum: DuckDB's segment-tree windowed sum
        // associates double adds differently than Spark's running
        // accumulation — decimal makes the prefix sums exact
        sum(dec2(col("o_totalprice")))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_total"))
      .orderBy("o_custkey", "rk")
  }

  // ---------------------------------------------------------------
  // q20 — gap sessionization (30-min gap) over the events stream,
  // batch form; the streaming twin shares the same semantics.
  // ---------------------------------------------------------------
  private val SessionGapNs = 1800L * 1000000000L

  private def q20(s: SparkSession, dir: String): DataFrame =
    Sessionize(t(s, dir, "events"), SessionGapNs)
      .orderBy("user_id", "session_id")

  // ---------------------------------------------------------------
  // q21 — tumbling 1-hour window aggregation, batch/stream-parity
  // shape (same tumblingAgg serves readStream inputs).
  // ---------------------------------------------------------------
  private def q21(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events")
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
    Streams.tumblingAgg(events).orderBy("hour_ms", "event_type")
  }

  // ---------------------------------------------------------------
  // q43 — as-of join: each click enriched with the user's latest
  // purchase at-or-before the click. Composed from union + window
  // carry-forward (one key shuffle); oracle is DuckDB's native
  // ASOF LEFT JOIN.
  // ---------------------------------------------------------------
  private def q43(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("ts").as("p_ts"), col("value").as("p_value"))
    AsOfJoin(clicks, purchases, Seq("user_id"), "ts", "ts",
        Seq("p_ts", "p_value"))
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000000").as("click_ms"),
        expr("p_ts div 1000000").as("purchase_ms"),
        col("p_value").as("purchase_value"))
      .orderBy("user_id", "event_id")
  }

  // ---------------------------------------------------------------
  // q44 — range join: events against daily maintenance windows via
  // interval binning (equi-join on bin + exact containment filter —
  // never a nested-loop over |points|×|intervals|).
  // ---------------------------------------------------------------
  private def q44(s: SparkSession, dir: String): DataFrame = {
    val dayMs = 86400000L
    val baseMs = 1704067200000L // 2024-01-01T00:00:00Z
    val windows = s.range(0, 30)
      .select((lit(baseMs) + col("id") * dayMs).as("w_start"))
      .withColumn("w_end", col("w_start") + 1800000L) // 30-min window
    val points = t(s, dir, "events")
      .select(expr("ts div 1000000").as("ms"), col("value"))
    RangeJoin.pointInInterval(points, "ms", windows, "w_start", "w_end",
        binWidth = 1800000L)
      .groupBy("w_start")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy("w_start")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q44_range_join" -> (q44 _),
    "q43_asof_join" -> (q43 _),
    "q01_full_scan_agg" -> (q01 _),
    "q02_filter_ops" -> (q02 _),
    "q03_join_star" -> (q03 _),
    "q04_incremental_cursor" -> (q04 _),
    "q05_merge_upsert" -> (q05 _),
    "q06_replace_append" -> (q06 _),
    "q07_schema_evolve" -> (q07 _),
    "q08_schema_freeze_discard" -> (q08 _),
    "q09_incremental_model" -> (q09 _),
    "q10_scd2_snapshot" -> (q10 _),
    "q11_scd2_check" -> (q11 _),
    "q12_test_not_null_unique" -> (q12 _),
    "q13_test_accepted_relationships" -> (q13 _),
    "q14_source_freshness" -> (q14 _),
    "q15_csv_json_ingest" -> (q15 _),
    "q16_catalog_introspect" -> (q16 _),
    "q17_sql_editor" -> (q17 _),
    "q18_dag_topo_run" -> (q18 _),
    "q19_window_funcs" -> (q19 _),
    "q20_sessionize" -> (q20 _),
    "q21_stream_tumbling" -> (q21 _)) ++ PipelineEntry.queries ++
    ExtendedEntry.queries ++ CorpusEntry.queries ++ AnalyticsEntry.queries ++
    PlatformEntry.queries ++ TrainEntry.queries ++ WebEntry.queries ++
    MiningEntry.queries ++ StatsEntry.queries ++ SignalsEntry.queries ++
    EvalEntry.queries

  def oracleSql: Map[String, String] = Map(
    "q44_range_join" ->
      """WITH w AS (
        |  SELECT 1704067200000 + i * 86400000 AS w_start,
        |         1704067200000 + i * 86400000 + 1800000 AS w_end
        |  FROM range(0, 30) t(i)
        |), e AS (
        |  SELECT epoch_ns(ts) // 1000000 AS ms, value FROM events
        |)
        |SELECT w_start, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM e JOIN w ON e.ms >= w.w_start AND e.ms < w.w_end
        |GROUP BY w_start ORDER BY w_start""".stripMargin,
    "q43_asof_join" ->
      """SELECT l.user_id, l.event_id,
        |  epoch_ns(l.ts) // 1000000 AS click_ms,
        |  epoch_ns(r.ts) // 1000000 AS purchase_ms,
        |  r.value AS purchase_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.user_id, l.event_id""".stripMargin,
    "q01_full_scan_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS sum_disc_price,
        |  CAST(sum(l_quantity) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_ops" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |FROM orders
        |WHERE o_orderstatus IS NOT DISTINCT FROM 'O'
        |  AND o_orderdate IS DISTINCT FROM TIMESTAMP '1995-01-01'
        |  AND o_totalprice > 1000.0
        |  AND o_totalprice < 400000.0
        |  AND o_orderkey >= 10
        |  AND o_orderdate <= TIMESTAMP '2001-06-01'
        |  AND o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
        |  AND (o_custkey IS NULL OR o_custkey NOT IN (1, 2, 3))
        |ORDER BY o_orderkey""".stripMargin,
    "q03_join_star" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q04_incremental_cursor" ->
      """SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1999-06-01'
        |ORDER BY o_orderkey""".stripMargin,
    "q05_merge_upsert" ->
      """WITH existing AS (
        |  SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-20'
        |), batch AS (
        |  SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-20'
        |), merged AS (
        |  SELECT * FROM existing
        |  WHERE user_id NOT IN (SELECT DISTINCT user_id FROM batch)
        |  UNION ALL
        |  SELECT * FROM batch
        |)
        |SELECT user_id, count(*) AS n_events,
        |  min(epoch_ms(ts)) AS first_ms,
        |  max(epoch_ms(ts)) AS last_ms,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM merged
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "q06_replace_append" ->
      """WITH existing AS (
        |  SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
        |), batch AS (
        |  SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
        |)
        |SELECT * FROM (
        |  SELECT 'append' AS disposition, count(*) AS n_rows,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM (SELECT * FROM existing UNION ALL SELECT * FROM batch)
        |  UNION ALL
        |  SELECT 'replace' AS disposition, count(*) AS n_rows,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM batch
        |)
        |ORDER BY disposition""".stripMargin,
    "q07_schema_evolve" ->
      """WITH b1 AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, NULL AS o_orderpriority
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
        |), b2 AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |), u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
        |SELECT CAST(o_orderpriority IS NOT NULL AS INT) AS has_new_col,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    "q08_schema_freeze_discard" ->
      """SELECT * FROM (
        |  SELECT 'columns_discard_row_rows' AS metric,
        |    count(*) AS value FROM orders WHERE o_orderkey % 2 <> 0
        |  UNION ALL SELECT 'columns_discard_value_cols', 6
        |  UNION ALL SELECT 'data_type_discard_value_nulls', count(*)
        |    FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL SELECT 'data_type_discard_row_rows', count(*)
        |    FROM orders WHERE o_orderkey % 3 <> 0
        |  UNION ALL SELECT 'freeze_violations', count(*)
        |    FROM orders WHERE o_orderkey % 3 = 0
        |) ORDER BY metric""".stripMargin,
    "q09_incremental_model" ->
      """WITH e AS (
        |  SELECT o_custkey, epoch_ms(o_orderdate) AS last_ms, o_totalprice AS price
        |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |          ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |        FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01')
        |  WHERE rn = 1
        |), b AS (
        |  SELECT o_custkey, epoch_ms(o_orderdate) AS last_ms, o_totalprice AS price
        |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |          ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |        FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01')
        |  WHERE rn = 1
        |)
        |SELECT * FROM (
        |  SELECT * FROM e WHERE o_custkey NOT IN (SELECT o_custkey FROM b)
        |  UNION ALL SELECT * FROM b
        |) ORDER BY o_custkey""".stripMargin,
    "q10_scd2_snapshot" ->
      """WITH s1 AS (
        |  SELECT o_custkey AS k, o_orderdate AS u, o_totalprice AS price
        |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |          ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |        FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01')
        |  WHERE rn = 1
        |), s2 AS (
        |  SELECT o_custkey AS k, o_orderdate AS u, o_totalprice AS price
        |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |          ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |        FROM orders)
        |  WHERE rn = 1
        |)
        |SELECT * FROM (
        |  SELECT s1.k AS k, epoch_ms(s1.u) AS valid_from_ms,
        |    epoch_ms(s2.u) AS valid_to_ms, s1.price AS price, 0 AS is_current
        |  FROM s1 JOIN s2 ON s1.k = s2.k WHERE s2.u > s1.u
        |  UNION ALL
        |  SELECT k, epoch_ms(u), NULL, price, 1 FROM s2
        |) ORDER BY k, valid_from_ms""".stripMargin,
    "q11_scd2_check" ->
      """WITH s1 AS (
        |  SELECT o_custkey AS k, count(*) AS n_orders,
        |    round(max(o_totalprice), 2) AS max_price
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01' GROUP BY 1
        |), s2 AS (
        |  SELECT o_custkey AS k, count(*) AS n_orders,
        |    round(max(o_totalprice), 2) AS max_price
        |  FROM orders GROUP BY 1
        |)
        |SELECT * FROM (
        |  SELECT s1.k AS k, s1.n_orders AS n_orders, s1.max_price AS max_price,
        |    CAST(100 AS BIGINT) AS valid_from, CAST(200 AS BIGINT) AS valid_to,
        |    0 AS is_current
        |  FROM s1 JOIN s2 ON s1.k = s2.k
        |  WHERE s1.n_orders IS DISTINCT FROM s2.n_orders
        |     OR s1.max_price IS DISTINCT FROM s2.max_price
        |  UNION ALL
        |  SELECT s2.k, s2.n_orders, s2.max_price,
        |    CAST(CASE WHEN s1.k IS NULL
        |           OR s1.n_orders IS DISTINCT FROM s2.n_orders
        |           OR s1.max_price IS DISTINCT FROM s2.max_price
        |         THEN 200 ELSE 100 END AS BIGINT),
        |    NULL, 1
        |  FROM s2 LEFT JOIN s1 ON s1.k = s2.k
        |) ORDER BY k, valid_from""".stripMargin,
    "q12_test_not_null_unique" ->
      // CAST ... AS BIGINT: DuckDB's sum(int) returns HUGEINT (int128),
      // which the driver's type-sensitive hash distinguishes from
      // Spark's BIGINT even when the values are equal (r2 mismatch)
      """SELECT * FROM (
        |  SELECT 'not_null' AS check_name, 'o_orderkey' AS column_name,
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
        |  FROM orders
        |  UNION ALL SELECT 'not_null', 'o_custkey',
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'not_null', 'o_orderstatus',
        |    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'unique', 'o_orderkey',
        |    (SELECT count(*) FROM (SELECT o_orderkey FROM orders
        |      WHERE o_orderkey IS NOT NULL GROUP BY 1 HAVING count(*) > 1))
        |  UNION ALL SELECT 'unique', 'o_custkey',
        |    (SELECT count(*) FROM (SELECT o_custkey FROM orders
        |      WHERE o_custkey IS NOT NULL GROUP BY 1 HAVING count(*) > 1))
        |) ORDER BY check_name, column_name""".stripMargin,
    "q13_test_accepted_relationships" ->
      """SELECT * FROM (
        |  SELECT 'accepted_values' AS check_name, 'o_orderstatus' AS column_name,
        |    CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F') THEN 1 ELSE 0 END) AS BIGINT) AS violations
        |  FROM orders
        |  UNION ALL SELECT 'relationships', 'o_custkey',
        |    (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL
        |      AND o_custkey NOT IN (SELECT c_custkey FROM customer))
        |  UNION ALL SELECT 'relationships', 'l_orderkey',
        |    (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL
        |      AND l_orderkey NOT IN (SELECT o_orderkey FROM orders
        |        WHERE o_orderdate < TIMESTAMP '1998-01-01'))
        |) ORDER BY check_name, column_name""".stripMargin,
    "q14_source_freshness" ->
      """WITH f AS (
        |  SELECT 'events' AS table_name, max(epoch_ms(ts)) AS max_ms,
        |    1728000 AS warn_s, 2592000 AS err_s FROM events
        |  UNION ALL SELECT 'orders', max(epoch_ms(o_orderdate)),
        |    604800000, 734400000 FROM orders
        |  UNION ALL SELECT 'lineitem', max(epoch_ms(l_shipdate)),
        |    259200000, 691200000 FROM lineitem
        |)
        |SELECT table_name, max_ms,
        |  (1707955200000 - max_ms) // 1000 AS age_s,
        |  CASE WHEN max_ms IS NULL THEN 'error'
        |       WHEN (1707955200000 - max_ms) // 1000 > err_s THEN 'error'
        |       WHEN (1707955200000 - max_ms) // 1000 > warn_s THEN 'warn'
        |       ELSE 'pass' END AS status
        |FROM f ORDER BY table_name""".stripMargin,
    "q15_csv_json_ingest" ->
      """SELECT r_name, count(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    // golden-schema oracle: the column metadata is the testdata
    // CONTRACT (fixed across SFs — TESTDATA.md), stated literally;
    // row counts stay dynamic so the oracle holds at any SF
    "q16_catalog_introspect" ->
      """WITH meta(table_name, column_name, ordinal, data_type, nullable) AS (
        |  VALUES
        |    ('customer', 'c_custkey', 0, 'bigint', 'true'),
        |    ('customer', 'c_name', 1, 'string', 'true'),
        |    ('customer', 'c_nationkey', 2, 'int', 'true'),
        |    ('customer', 'c_acctbal', 3, 'double', 'true'),
        |    ('customer', 'c_mktsegment', 4, 'string', 'true'),
        |    ('documents', 'doc_id', 0, 'bigint', 'true'),
        |    ('documents', 'text', 1, 'string', 'true'),
        |    ('documents', 'lang', 2, 'string', 'true'),
        |    ('documents', 'source', 3, 'string', 'true'),
        |    ('documents', 'n_chars', 4, 'bigint', 'true'),
        |    ('embeddings', 'vec_id', 0, 'bigint', 'true'),
        |    ('embeddings', 'embedding', 1, 'array<float>', 'true'),
        |    ('embeddings', 'label', 2, 'int', 'true'),
        |    ('events', 'event_id', 0, 'bigint', 'true'),
        |    ('events', 'ts', 1, 'bigint', 'true'),
        |    ('events', 'user_id', 2, 'bigint', 'true'),
        |    ('events', 'event_type', 3, 'string', 'true'),
        |    ('events', 'value', 4, 'double', 'true'),
        |    ('events', 'props', 5, 'string', 'true'),
        |    ('lineitem', 'l_orderkey', 0, 'bigint', 'true'),
        |    ('lineitem', 'l_partkey', 1, 'bigint', 'true'),
        |    ('lineitem', 'l_suppkey', 2, 'bigint', 'true'),
        |    ('lineitem', 'l_linenumber', 3, 'int', 'true'),
        |    ('lineitem', 'l_quantity', 4, 'double', 'true'),
        |    ('lineitem', 'l_extendedprice', 5, 'double', 'true'),
        |    ('lineitem', 'l_discount', 6, 'double', 'true'),
        |    ('lineitem', 'l_tax', 7, 'double', 'true'),
        |    ('lineitem', 'l_returnflag', 8, 'string', 'true'),
        |    ('lineitem', 'l_linestatus', 9, 'string', 'true'),
        |    ('lineitem', 'l_shipdate', 10, 'timestamp_ntz', 'true'),
        |    ('nation', 'n_nationkey', 0, 'int', 'true'),
        |    ('nation', 'n_name', 1, 'string', 'true'),
        |    ('nation', 'n_regionkey', 2, 'int', 'true'),
        |    ('orders', 'o_orderkey', 0, 'bigint', 'true'),
        |    ('orders', 'o_custkey', 1, 'bigint', 'true'),
        |    ('orders', 'o_orderstatus', 2, 'string', 'true'),
        |    ('orders', 'o_totalprice', 3, 'double', 'true'),
        |    ('orders', 'o_orderdate', 4, 'timestamp_ntz', 'true'),
        |    ('orders', 'o_orderpriority', 5, 'string', 'true'),
        |    ('part', 'p_partkey', 0, 'bigint', 'true'),
        |    ('part', 'p_name', 1, 'string', 'true'),
        |    ('part', 'p_brand', 2, 'string', 'true'),
        |    ('part', 'p_type', 3, 'string', 'true'),
        |    ('part', 'p_size', 4, 'int', 'true'),
        |    ('part', 'p_retailprice', 5, 'double', 'true'),
        |    ('region', 'r_regionkey', 0, 'int', 'true'),
        |    ('region', 'r_name', 1, 'string', 'true'),
        |    ('supplier', 's_suppkey', 0, 'bigint', 'true'),
        |    ('supplier', 's_name', 1, 'string', 'true'),
        |    ('supplier', 's_nationkey', 2, 'int', 'true'),
        |    ('supplier', 's_acctbal', 3, 'double', 'true')
        |), counts AS (
        |  SELECT 'customer' AS t, count(*) AS n FROM customer
        |  UNION ALL SELECT 'documents', count(*) FROM documents
        |  UNION ALL SELECT 'embeddings', count(*) FROM embeddings
        |  UNION ALL SELECT 'events', count(*) FROM events
        |  UNION ALL SELECT 'lineitem', count(*) FROM lineitem
        |  UNION ALL SELECT 'nation', count(*) FROM nation
        |  UNION ALL SELECT 'orders', count(*) FROM orders
        |  UNION ALL SELECT 'part', count(*) FROM part
        |  UNION ALL SELECT 'region', count(*) FROM region
        |  UNION ALL SELECT 'supplier', count(*) FROM supplier
        |)
        |SELECT m.table_name, m.column_name, m.ordinal, m.data_type,
        |  m.nullable, c.n AS table_rows
        |FROM meta m JOIN counts c ON m.table_name = c.t
        |ORDER BY m.table_name, m.ordinal""".stripMargin,
    "q17_sql_editor" -> Q17Sql,
    "q18_dag_topo_run" ->
      """WITH stg_orders AS (
        |  SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |), fct AS (
        |  SELECT o_custkey, count(*) AS n_items,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS revenue
        |  FROM lineitem JOIN stg_orders ON l_orderkey = o_orderkey
        |  GROUP BY o_custkey
        |)
        |SELECT n_items, count(*) AS n_customers,
        |  CAST(sum(revenue) AS DOUBLE) AS total_rev
        |FROM fct GROUP BY n_items ORDER BY n_items""".stripMargin,
    "q19_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(rank() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS INT) AS rk,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders ORDER BY o_custkey, rk""".stripMargin,
    "q20_sessionize" ->
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
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(epoch_ns(ts)) // 1000000 AS start_ms,
        |  max(epoch_ns(ts)) // 1000000 AS end_ms,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "q21_stream_tumbling" ->
      """SELECT (epoch_ns(ts) // 1000000 // 3600000) * 3600000 AS hour_ms,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_ms, event_type""".stripMargin) ++
    PipelineEntry.oracleSql ++ ExtendedEntry.oracleSql ++
    CorpusEntry.oracleSql ++ AnalyticsEntry.oracleSql ++
    PlatformEntry.oracleSql ++ TrainEntry.oracleSql ++ WebEntry.oracleSql ++
    MiningEntry.oracleSql ++ StatsEntry.oracleSql ++ SignalsEntry.oracleSql ++
    EvalEntry.oracleSql
}
