package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.Plans

/** HITS hubs & authorities (Kleinberg 1999, "Authoritative sources
  * in a hyperlinked environment") over a directed link graph — the
  * companion host-quality signal to PageRank q131: authorities are
  * pages good links point TO, hubs are pages that point at good
  * authorities. (Reference anchor: crawl prioritization over the
  * q130 domain graph.)
  *
  * INTEGER fixed-point semantics, like ops.PageRank: every step is
  * BIGINT arithmetic with floor division, so each iteration is
  * exactly reproducible cross-engine. Normalization is L1 with the
  * divide-first form `raw div max(total div scale, 1)` — raw never
  * multiplies by scale, so nothing can overflow however large the
  * graph (the classic `(raw * scale) div total` form overflows at
  * ~10^6 edges with scale 10^6).
  *
  * Scale shape: edges are barriered once; each iteration is two
  * map-combined keyed aggregations (by dst, then by src), two
  * nodes-sized left joins, and two 1-row total aggregates that join
  * back via broadcast cross-join (never a driver collect). The raw
  * sums are BARRIERED (lazy localCheckpoint) each half-round: the
  * normalize step consumes `raw` twice (the join AND the total), so
  * without the cut the analyzed plan doubles per half-round —
  * exponential analyzer time by K=4 — while the barrier keeps plan
  * growth linear and dedupes the shared computation by RDD identity.
  */
object Hits {

  /** @return (node, hub_u, auth_u) after `iters` full rounds. */
  def run(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = Plans.barrier(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    val nodes = Plans.barrier(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct())

    // one normalized step: raw sums keyed by `outKey` from scores on
    // `inKey`, then L1-normalize into [0, ~scale] with floor
    // division. SPARSE since r15 (guide §2.4 — remove shuffles
    // outright): a node absent from `raw` has score 0, and a 0-score
    // row contributes 0 to every downstream raw sum and 0 to the
    // total, so materializing it was pure overhead — the r14 shape
    // paid a nodes-sized left join every half-round to write those
    // zeros; the zeros now appear once, in the final densify below.
    def step(scores: DataFrame, scoreCol: String, inKey: String,
        outKey: String, outCol: String): DataFrame = {
      val raw = Plans.barrier(
        e.join(scores, e(inKey) === scores("node"))
          .groupBy(col(outKey).as("node")).agg(sum(scoreCol).as("raw")))
      val total = raw.agg(
        greatest(expr(s"sum(raw) div $scale"), lit(1L)).as("den"))
      raw.crossJoin(broadcast(total))
        .select(col("node"), expr(s"raw div den").as(outCol))
    }

    var hub = nodes.withColumn("hub", lit(scale))
    var auth: DataFrame = null
    for (k <- 1 to iters) {
      auth = step(hub, "hub", "src", "dst", "auth")
      hub = step(auth, "auth", "dst", "src", "hub")
    }
    // densify once: every node reports, absent sparse rows are the 0s
    // the old per-half-round left joins materialized eagerly
    nodes
      .join(hub, Seq("node"), "left")
      .join(auth, Seq("node"), "left")
      .select(col("node"), coalesce(col("hub"), lit(0L)).as("hub_u"),
        coalesce(col("auth"), lit(0L)).as("auth_u"))
  }

  /** The SAME computation as DuckDB SQL — generated CTE chain, so
    * the oracle cannot drift (PageRank.sql's pattern). `edgesCte`
    * must produce (src, dst). MATERIALIZED stages keep the oracle
    * linear in iterations.
    */
  def sql(edgesCte: String, iters: Int, scale: Long = 1000000L): String = {
    require(iters >= 1)
    val base =
      s"""WITH raw_e AS MATERIALIZED ($edgesCte),
         |ed AS MATERIALIZED (SELECT DISTINCT src, dst FROM raw_e
         |  WHERE src IS NOT NULL AND dst IS NOT NULL),
         |nodes AS MATERIALIZED (
         |  SELECT src AS node FROM ed UNION SELECT dst FROM ed),
         |h0 AS MATERIALIZED (
         |  SELECT node, CAST($scale AS BIGINT) AS hub FROM nodes)""".stripMargin
    def stepSql(k: Int, fromCte: String, fromCol: String, inKey: String,
        outKey: String, tag: String, outCol: String) =
      s"""r$tag$k AS MATERIALIZED (
         |  SELECT ed.$outKey AS node, CAST(SUM(s.$fromCol) AS BIGINT) AS raw
         |  FROM ed JOIN $fromCte s ON ed.$inKey = s.node
         |  GROUP BY ed.$outKey),
         |t$tag$k AS MATERIALIZED (
         |  SELECT greatest(CAST(sum(raw) AS BIGINT) // $scale, 1) AS den
         |  FROM r$tag$k),
         |$tag$k AS MATERIALIZED (
         |  SELECT nd.node,
         |    COALESCE(r.raw, 0) // (SELECT den FROM t$tag$k) AS $outCol
         |  FROM nodes nd LEFT JOIN r$tag$k r ON nd.node = r.node)""".stripMargin
    val iterCtes = (1 to iters).flatMap { k =>
      Seq(
        stepSql(k, if (k == 1) "h0" else s"h${k - 1}", "hub",
          "src", "dst", "a", "auth"),
        stepSql(k, s"a$k", "auth", "dst", "src", "h", "hub"))
    }
    ((base +: iterCtes).mkString(",\n")) +
      s"""
         |SELECT h.node, h.hub AS hub_u, a.auth AS auth_u
         |FROM h$iters h JOIN a$iters a ON h.node = a.node""".stripMargin
  }
}
