package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dag.Dag
import graft.functions.TextHashes
import graft.ops.{Snapshot, StagedSwap}
import graft.sources.Tables
import graft.sources.Tables.{load => t}

/** q107+: the platform-surface tail — live JDBC database extraction,
  * dbt schema-YAML metadata round-trip, and the model/snapshot
  * removal lifecycle. Same conventions as the earlier entry objects:
  * exact DuckDB oracles, decimal-summed doubles, deterministic
  * ordering.
  */
object PlatformEntry {

  // ---------------------------------------------------------------
  // q107 — live JDBC database extraction (the reference's DEFAULT
  // source: sql_table()/sql_database(), dlt_runner.py:167-189) over
  // embedded Derby: cursor predicate pushed into the remote WHERE,
  // partitioned parallel read, multi-table extract. The fixture DB
  // is loaded once from the parquet tables, so the oracle states the
  // same query over the same rows in DuckDB.
  //
  // Derby folds unquoted identifiers to UPPER CASE while Spark's
  // JDBC writer QUOTES column names — so the fixture uppercases
  // columns before load (quoted "S_SUPPKEY" == unquoted s_suppkey)
  // and the query aliases them back. That keeps every later filter,
  // partition-stride clause, and SELECT list resolvable unquoted.
  // ---------------------------------------------------------------
  private def q107(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.JdbcSource
    import graft.sources.JdbcSource.TableConfig
    val url = s"jdbc:derby:target/scratch/q107_db_${Scratch.key(dir)};create=true"
    val opts = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    def up(df: DataFrame): DataFrame = df.toDF(df.columns.map(_.toUpperCase): _*)
    // pay the fixture load once per warehouse (like q40's bucketing:
    // first run writes, every rerun only reads). BOTH tables gate the
    // skip: a crash between the two writes would otherwise leave a DB
    // with NATION but no SUPPLIER that every later run trusts and
    // fails on. writeTable is mode=overwrite, so re-loading the
    // surviving half is idempotent.
    if (!(JdbcSource.tableExists(url, "NATION") &&
        JdbcSource.tableExists(url, "SUPPLIER"))) {
      JdbcSource.writeTable(up(t(s, dir, "nation")), url, "NATION")
      JdbcSource.writeTable(up(t(s, dir, "supplier")), url, "SUPPLIER")
    }
    val frames = JdbcSource.database(s, url, Seq("NATION", "SUPPLIER"),
      perTable = Map("SUPPLIER" -> TableConfig(
        // incremental cursor: only rows above the watermark ship
        cursor = Some("S_SUPPKEY"), lastValue = Some(50L),
        // parallel read: 4 stride ranges fetched concurrently
        partitionColumn = Some("S_SUPPKEY"), lowerBound = Some(1L),
        upperBound = Some(1001L), numPartitions = 4)),
      options = opts)
    frames("SUPPLIER")
      .join(frames("NATION"), col("S_NATIONKEY") === col("N_NATIONKEY"))
      .groupBy(col("N_NAME").as("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("S_ACCTBAL").cast("decimal(18,2)")).cast("double").as("sum_acctbal"))
      .orderBy("n_name")
  }

  // ---------------------------------------------------------------
  // q108 — dbt schema-YAML round-trip (write_model_yml /
  // write_sources_yml / write_tests_config, dbt_project.py:349-748):
  // build a SQL model, EMIT its model + sources YAML artifacts,
  // PARSE the files back, and run the declared column tests from the
  // parsed config. The output is the check report — the YAML is
  // load-bearing, not documentation.
  // ---------------------------------------------------------------
  private[graft] val Q108ModelSql =
    """SELECT o_orderkey, o_custkey, o_orderpriority,
      |  CASE WHEN o_totalprice > 150000 THEN o_totalprice END AS big_price
      |FROM {{ source('lake', 'orders') }}""".stripMargin
  private[graft] val Q108Accepted =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW")

  private def q108(s: SparkSession, dir: String): DataFrame = {
    import graft.dag.{ModelYaml, SqlModels}
    import graft.dag.ModelYaml._
    import graft.quality.Checks
    val proj = Scratch.fresh(s, "q108", dir)

    val built = SqlModels.runMaterialized(s,
      Seq(SqlModels.SqlModel("stg_orders", Q108ModelSql, Dag.Table)),
      s"$proj/warehouse", (_, tbl) => t(s, dir, tbl))

    val doc = ModelDoc("stg_orders",
      description = Some("orders staging with flagged big spenders"),
      config = Map("materialized" -> "table"),
      columns = Seq(
        ColumnDoc("o_orderkey", "bigint", tests = Seq(NotNullT, UniqueT)),
        ColumnDoc("o_custkey", "bigint", tests = Seq(NotNullT,
          RelationshipsT("source('lake', 'customer')", "c_custkey"))),
        ColumnDoc("o_orderpriority", "string",
          tests = Seq(AcceptedValuesT(Q108Accepted))),
        ColumnDoc("big_price", "double",
          description = Some("only prices above threshold"),
          tests = Seq(NotNullT))))
    val ymlPath = ModelYaml.writeModelYml(proj, "staging", doc)
    val srcPath = ModelYaml.writeSourcesYml(proj, SourceDoc("lake", "main",
      tables = Seq(SourceTableDoc("orders", loadedAtField = Some("o_orderdate")),
        SourceTableDoc("customer")),
      freshness = Map("warn_after_seconds" -> 86400L)))

    // the round-trip gate: what we parse from disk must equal what we
    // declared — a lossy emitter/parser fails the query, not a spec
    val parsed = ModelYaml.parseModelYml(
      java.nio.file.Files.readString(ymlPath)).head
    require(parsed == doc, s"model yml round-trip drifted: $parsed")
    val srcParsed = ModelYaml.parseSourcesYml(
      java.nio.file.Files.readString(srcPath)).head
    require(srcParsed.freshness == Map("warn_after_seconds" -> 86400L) &&
      srcParsed.tables.map(_.name) == Seq("orders", "customer"),
      s"sources yml round-trip drifted: $srcParsed")

    val resolve: String => DataFrame = to => {
      val (_, tbl) = SqlModels.sources(to).head
      t(s, dir, tbl)
    }
    Checks.withStatus(
        Checks.run(built("stg_orders"), ModelYaml.testsConfig(parsed, resolve)),
        severity = Map(("accepted_values", "o_orderpriority") -> "warn"))
      .orderBy("check_name", "column_name")
  }

  // ---------------------------------------------------------------
  // q109 — removal lifecycle (remove_model dbt_project.py:490,
  // remove_snapshot :612): create→materialize→remove→rebuild. The
  // guarded path (removing a model that downstream models still
  // reference) must refuse; artifact drops are observable on the
  // warehouse; a second snapshot removal reports not-found; the
  // surviving DAG still selects and rebuilds.
  // ---------------------------------------------------------------
  private def q109(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wh = Scratch.fresh(s, "q109", dir)
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

    val models = Seq(
      Dag.Model("stg", Nil, _ => t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")),
      Dag.Model("priority_rollup", Seq("stg"),
        m => m("stg").groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders")), Dag.Table),
      Dag.Model("cust_rollup", Seq("stg"),
        m => m("stg").groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders")), Dag.Table))
    val first = Dag.runMaterialized(s, models, wh)
    val rollupRows = first("priority_rollup").count()

    val refused =
      try { Dag.removeModel(s, models, "stg", wh); false }
      catch { case _: IllegalArgumentException => true }
    val existed = fs.exists(new org.apache.hadoop.fs.Path(s"$wh/cust_rollup"))
    val remaining = Dag.removeModel(s, models, "cust_rollup", wh)
    val dropped = !fs.exists(new org.apache.hadoop.fs.Path(s"$wh/cust_rollup"))
    val selectorOk =
      Dag.select(remaining, "stg+") == Set("stg", "priority_rollup")

    val snapPath = s"$wh/snap_orders"
    Snapshot.timestamp(None,
        t(s, dir, "orders").select("o_orderkey", "o_orderpriority", "o_orderdate"),
        Seq("o_orderkey"), "o_orderdate")
      .write.mode("overwrite").parquet(snapPath)
    val snapFirst = Snapshot.remove(s, snapPath)
    val snapSecond = Snapshot.remove(s, snapPath)

    val rebuilt = Dag.runMaterialized(s, remaining, wh)
    val rebuildOk = rebuilt("priority_rollup").count() == rollupRows

    Seq(
      ("cust_rollup_dropped", dropped),
      ("cust_rollup_existed", existed),
      ("rebuild_ok", rebuildOk),
      ("remove_dependent_refused", refused),
      ("selector_after_removal", selectorOk),
      ("snapshot_remove_first", snapFirst),
      ("snapshot_remove_second", snapSecond))
      .toDF("step", "ok").orderBy("step")
  }

  // ---------------------------------------------------------------
  // q110 — INCREMENTAL near-dup dedup against a persisted MinHash
  // index (the 100 TB ingest shape: the corpus is sketched ONCE into
  // an id+hash index; each new batch sketches only itself and joins
  // the index — corpus text is never rescanned). The index round-
  // trips through parquet to prove persistability; the batch is the
  // q23-style injected near-copies, and the oracle recomputes the
  // exact batch×corpus Jaccard join in SQL (recall of this banding
  // on this corpus is exactly 1, as q23 established for the
  // self-join form).
  // ---------------------------------------------------------------
  private def q110(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    val idxPath = s"target/scratch/q110_index_${Scratch.key(dir)}"
    val docs = t(s, dir, "documents").select("doc_id", "text")
    // corpus sketched once; persisted as the reusable index artifact
    StagedSwap.overwrite(s, idxPath)(
      Dedup.minhashIndex(docs, "doc_id", "text").write.parquet(_))
    val index = Tables.parquet(s, idxPath)
    val batch = docs.filter(col("doc_id") % 25 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", concat(lit("zq "), col("text")))
    Dedup.minhashLshAgainstIndex(index, batch, "doc_id", "text")
      .orderBy("a", "b")
  }

  // ---------------------------------------------------------------
  // q111 — training-shard export + manifest: the cleaned corpus lands
  // as 8 deterministic JSONL shards (id mod 8 — restatable in SQL)
  // and the gated output is the manifest recomputed FROM DISK, so a
  // lost row, a double-write, or a shard-assignment drift breaks the
  // count/checksum parity with the oracle.
  // ---------------------------------------------------------------
  private def q111(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Export
    import graft.text.TextAnalysis
    val out = s"target/scratch/q111_${Scratch.key(dir)}"
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_tokens"))
    Export.jsonlShards(s, docs, "doc_id", "n_tokens", nShards = 8, out)
  }

  // ---------------------------------------------------------------
  // q112 — document chunking (RAG / context-window prep): fixed
  // 64-token windows with stride 48 (16-token overlap) as a pure
  // per-row explode — zero shuffles; the oracle restates the window
  // arithmetic and every chunk's token/char counts with DuckDB list
  // slicing, so an off-by-one in stride, tail, or the ≤window
  // single-chunk case breaks parity.
  // ---------------------------------------------------------------
  private def q112(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextAnalysis
    TextAnalysis.chunk(t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", window = 64, step = 48)
      .select(col("doc_id"), col("chunk_id"), col("chunk_tokens"),
        length(col("chunk_text")).cast("long").as("n_chars"))
      .orderBy("doc_id", "chunk_id")
  }

  // ---------------------------------------------------------------
  // q326 — MinHash-index maintenance (VERDICT r8 item 8): per-batch
  // appends FRAGMENT q110's persisted index (every ingest leaves its
  // own small files; at 100 TB the file count, not bytes, throttles
  // the planner), so the index needs the same OPTIMIZE+VACUUM cycle
  // as any other table. This query ingests the corpus index in 8
  // fragmented appends, probes it, runs Compaction.compact (no-
  // shuffle coalesce rewrite) + Vacuum over planted crash debris,
  // probes AGAIN, and REQUIRES the probe results identical and the
  // layout actually compacted — the gated output is the post-
  // OPTIMIZE probe against the exact-Jaccard oracle, so a lost or
  // duplicated index row after the rewrite breaks parity.
  // ---------------------------------------------------------------
  private def q326(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    import graft.ops.{Compaction, Vacuum}
    val root = Scratch.fresh(s, "q326_opt", dir)
    val idxDir = s"$root/minhash_index"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val docs = t(s, dir, "documents").select("doc_id", "text")
    // fragmented ingest fixture: the same 32-file layout the r13
    // 8-appends-×-repartition(4) loop produced, built in ONE write
    // job (r14, guide §1.2 — minhashIndex is row-wise, so the index
    // of the union IS the union of the per-batch indexes; 8 serial
    // corpus scans + 8 write commits collapse into one). What the
    // query gates — probe equality across OPTIMIZE, the compact
    // file-count drop, the vacuum verdict — is unchanged.
    Dedup.minhashIndex(docs, "doc_id", "text")
      .repartition(32).write.mode("append").parquet(idxDir)
    val batch = docs.filter(col("doc_id") % 17 === 3)
      .withColumn("doc_id", col("doc_id") + 3000000L)
      .withColumn("text", concat(lit("qv "), col("text")))
    def probe() = Dedup.minhashLshAgainstIndex(
      Tables.parquet(s, idxDir), batch, "doc_id", "text")
    // EAGER checkpoint: the pre-OPTIMIZE probe must materialize NOW —
    // a lazy plan would re-read the directory after the rewrite and
    // vacuously "agree" with itself
    val before = graft.plans.Plans.materialize(probe())
    // plant crash debris from a failed OPTIMIZE of a since-dropped
    // sibling table, aged past retention, then compact + vacuum —
    // the full maintenance cycle. (A crash inside this compact would
    // leave `minhash_index.staging-<tag>` / `.old-<tag>` beside the
    // live index; the same sweep reclaims those once they age past
    // retention.)
    val debris = new org.apache.hadoop.fs.Path(s"$root/retired_index__compact_tmp")
    fs.mkdirs(debris)
    fs.create(new org.apache.hadoop.fs.Path(debris, "part-junk"), true).close()
    fs.setTimes(debris, 1000L, -1)
    val cstats = Compaction.compact(s, idxDir, targetBytes = 256L << 20)
    val vstats = Vacuum.vacuum(s, root, retentionMs = 3600000L,
      now = 1000L + 7200000L)
    require(cstats.nFilesAfter < cstats.nFilesBefore,
      s"OPTIMIZE did not reduce the layout: $cstats")
    require(vstats.nDeleted == 1,
      s"vacuum missed the planted compact debris: $vstats")
    // EAGER checkpoint here too (r15, guide §1.2): `after` feeds both
    // exceptAll legs AND the gated output — unchecked, the LSH probe
    // join against the index ran 3× (once per consumer)
    val after = graft.plans.Plans.materialize(probe())
    // distributed equality — no driver collect: the multiset of probe
    // pairs must survive the rewrite exactly
    val diff = before.exceptAll(after).count() + after.exceptAll(before).count()
    require(diff == 0,
      s"probe results changed across OPTIMIZE ($diff rows differ)")
    after.orderBy("a", "b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q326_index_optimize" -> (q326 _),
    "q107_jdbc_ingest" -> (q107 _),
    "q108_model_yaml" -> (q108 _),
    "q109_remove_models" -> (q109 _),
    "q110_dedup_incremental" -> (q110 _),
    "q111_export_shards" -> (q111 _),
    "q112_chunking" -> (q112 _))

  val oracleSql: Map[String, String] = Map(
    "q107_jdbc_ingest" ->
      """SELECT n_name, count(*) AS n_suppliers,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey > 50
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q108_model_yaml" ->
      """WITH m AS (
        |  SELECT o_orderkey, o_custkey, o_orderpriority,
        |    CASE WHEN o_totalprice > 150000 THEN o_totalprice END AS big_price
        |  FROM orders
        |), r AS (
        |  SELECT 'accepted_values' AS check_name, 'o_orderpriority' AS column_name,
        |    (SELECT count(*) FROM m WHERE o_orderpriority NOT IN
        |      ('1-URGENT', '2-HIGH', '3-MEDIUM', '5-LOW')) AS violations,
        |    'warn' AS severity
        |  UNION ALL SELECT 'not_null', 'big_price',
        |    (SELECT count(*) FROM m WHERE big_price IS NULL), 'error'
        |  UNION ALL SELECT 'not_null', 'o_custkey',
        |    (SELECT count(*) FROM m WHERE o_custkey IS NULL), 'error'
        |  UNION ALL SELECT 'not_null', 'o_orderkey',
        |    (SELECT count(*) FROM m WHERE o_orderkey IS NULL), 'error'
        |  UNION ALL SELECT 'relationships', 'o_custkey',
        |    (SELECT count(*) FROM m WHERE o_custkey IS NOT NULL
        |      AND o_custkey NOT IN (SELECT c_custkey FROM customer)), 'error'
        |  UNION ALL SELECT 'unique', 'o_orderkey',
        |    (SELECT count(*) FROM (SELECT o_orderkey FROM m
        |      WHERE o_orderkey IS NOT NULL
        |      GROUP BY 1 HAVING count(*) > 1)), 'error'
        |)
        |SELECT check_name, column_name, violations, severity,
        |  CASE WHEN violations = 0 THEN 'pass' ELSE severity END AS status
        |FROM r ORDER BY check_name, column_name""".stripMargin,
    "q112_chunking" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, CAST(i AS INT) AS chunk_id,
        |    array_to_string(t[CAST(i AS INT)*48+1 : CAST(i AS INT)*48+64], ' ')
        |      AS chunk_text
        |  FROM toks,
        |    LATERAL unnest(range(0,
        |      1 + CAST(ceil(greatest(len(t) - 64, 0) / 48.0) AS BIGINT))) u(i)
        |)
        |SELECT doc_id, chunk_id,
        |  (length(trim(chunk_text))
        |    - length(replace(trim(chunk_text), ' ', '')) + 1) AS chunk_tokens,
        |  CAST(length(chunk_text) AS BIGINT) AS n_chars
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "q111_export_shards" ->
      s"""SELECT doc_id % 8 AS shard, count(*) AS n_docs,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
         |  CAST(sum(${PipelineEntry.WsTokSql}) AS BIGINT) AS sum_tokens
         |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin,
    // q110's exact-Jaccard shape with q326's probe constants: the
    // persisted index is maintenance-transparent — OPTIMIZE must not
    // change what a probe returns
    "q326_index_optimize" ->
      incrementalProbeOracleSql(offset = 3000000L, prefix = "qv ",
        batchFilter = "doc_id % 17 = 3"),
    "q110_dedup_incremental" ->
      incrementalProbeOracleSql(offset = 1000000L, prefix = "zq ",
        batchFilter = "doc_id % 25 = 0"),
    "q109_remove_models" ->
      """SELECT * FROM (VALUES
        |  ('cust_rollup_dropped', TRUE),
        |  ('cust_rollup_existed', TRUE),
        |  ('rebuild_ok', TRUE),
        |  ('remove_dependent_refused', TRUE),
        |  ('selector_after_removal', TRUE),
        |  ('snapshot_remove_first', TRUE),
        |  ('snapshot_remove_second', FALSE)
        |) AS t(step, ok) ORDER BY step""".stripMargin)

  /** Shared q110/q326 oracle: exact trigram-Jaccard of a synthetic
    * probe batch (corpus rows shifted by `offset`, text prefixed so
    * every batch doc differs from its source, filtered by
    * `batchFilter`) against the whole corpus at threshold 0.7 — the
    * ground truth an incremental MinHash-index probe must reproduce.
    * The two queries differ ONLY in these constants; their CTE
    * chains were line-identical before this factoring.
    */
  private def incrementalProbeOracleSql(
      offset: Long, prefix: String, batchFilter: String): String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |), batch AS (
       |  SELECT doc_id + $offset AS doc_id, '$prefix' || text AS text
       |  FROM documents WHERE $batchFilter
       |), csets AS (
       |  SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
       |      ELSE list_distinct(list_transform(range(1, len(t) - 1),
       |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS g
       |  FROM (SELECT doc_id,
       |    ${TextHashes.wordTokensSql("text")} AS t
       |    FROM corpus)
       |), bsets AS (
       |  SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
       |      ELSE list_distinct(list_transform(range(1, len(t) - 1),
       |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS g
       |  FROM (SELECT doc_id,
       |    ${TextHashes.wordTokensSql("text")} AS t
       |    FROM batch)
       |), pairs AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b,
       |    len(list_intersect(x.g, y.g)) * 1.0
       |      / (len(x.g) + len(y.g) - len(list_intersect(x.g, y.g))) AS jaccard
       |  FROM csets x JOIN bsets y ON TRUE
       |)
       |SELECT a, b, jaccard FROM pairs WHERE jaccard >= 0.7
       |ORDER BY a, b""".stripMargin
}
