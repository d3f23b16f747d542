package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.Plans

/** Link-graph PageRank over a DataFrame edge list — crawl-frontier
  * prioritization (which domains to fetch deeper) and corpus-mix
  * weighting (a page's host authority is a standard quality prior in
  * web-scale training sets; Common Crawl publishes exactly this as
  * its host-level ranks). Reference scope: extends the dedup/quality
  * family with the one graph operator every crawl pipeline needs.
  *
  * INTEGER-EXACT semantics (cross-engine reproducible, no float
  * drift): ranks live in fixed-point units of 1/`scale`. Per
  * iteration, node v receives
  *
  *   rank'(v) = floor(15·scale / (100·N))                (teleport)
  *            + Σ_{u→v} floor(85·rank(u) / (100·outdeg(u)))
  *
  * i.e. damping 0.85 with floor division at every step. Dangling
  * mass (nodes with no out-links) and floor remainders are DROPPED,
  * not redistributed — ranks are a deterministic ordering signal,
  * not a probability distribution (documented; the classic
  * redistribution variant needs a per-iteration global sum that
  * buys nothing for ranking). All arithmetic stays in BIGINT:
  * 85·rank ≤ 85·scale « 2^63.
  *
  * Scale shape: edges dedupe once (one exchange on the pair) and are
  * barriered, so the per-iteration cost is the edges⋈ranks(src)
  * join, one shuffle of (dst, contrib) partials (map-side combined)
  * and the nodes-sized left join. Every
  * `checkpointInterval` rounds the ranks are barriered to cut the
  * plan — K iterations stay a bounded plan, not one K-deep chain.
  * Driver state: the node count N, one scalar.
  */
object PageRank {

  /** @param edges  (srcCol, dstCol) directed edge list; multi-edges
    *               collapse (simple-graph semantics).
    * @return (node, rank_u) — fixed-point rank after `iters` rounds.
    */
  def run(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      scale: Long = 1000000000L,
      checkpointInterval: Int = 5): DataFrame = {
    require(checkpointInterval >= 1,
      s"checkpointInterval must be >= 1, got $checkpointInterval")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val e = Plans.barrier(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct())

    val nodes = Plans.barrier(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct())
    val n = nodes.count() // bounded driver scalar
    require(n > 0, "empty graph")

    // outdeg is a function of src alone — join it into the barriered
    // edge list ONCE (r15, guide §2.4), so every iteration then pays a
    // single join (edges ⋈ ranks) instead of two
    val ed = Plans.barrier(e.join(
      e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src"))

    val teleport = (15L * scale) / (100L * n)
    var ranks = nodes.withColumn("rank", lit(scale / n))

    for (i <- 1 to iters) {
      val contrib = ed
        .join(ranks, ed("src") === ranks("node"))
        // `div` (IntegralDivide), NOT `/` — Column `/` on longs is a
        // double divide; div truncates, = floor for positive operands,
        // matching DuckDB's `//`
        .select(col("dst"),
          expr("(85 * rank) div (100 * outdeg)").as("c"))
        .groupBy("dst").agg(sum("c").as("contrib"))
      val next = nodes
        .join(contrib, nodes("node") === contrib("dst"), "left")
        .select(col("node"),
          (lit(teleport) + coalesce(col("contrib"), lit(0L))).as("rank"))
      // cut the plan every `checkpointInterval` rounds, so long runs
      // stay bounded while short runs stay one lazy plan
      ranks = cutEvery(checkpointInterval, i, iters, next)
    }
    ranks.select(col("node"), col("rank").as("rank_u"))
  }

  private def cutEvery(interval: Int, i: Int, iters: Int,
      next: DataFrame): DataFrame =
    if (i % interval == 0 && i < iters) Plans.barrier(next) else next

  /** Personalized (topic-sensitive) PageRank — Haveliwala 2002: the
    * teleport mass lands ONLY on the seed set instead of uniformly,
    * so ranks measure authority AS SEEN FROM the seeds — TrustRank
    * (seeds = vetted hosts, spam scores low), related-entity
    * ranking (seeds = one user's domains), and topic-conditioned
    * crawl priorities all instantiate it. Same integer-exact
    * fixed-point recursion as [[run]] with two changes:
    *
    *   rank₀(v)  = [v ∈ S] · floor(scale / |S|)
    *   teleport  = [v ∈ S] · floor(15·scale / (100·|S|))
    *
    * Dangling/floor mass drops, as in [[run]] (ordering signal, not
    * a distribution). Seeds absent from the graph contribute
    * nothing; |S| counts the DISTINCT given seeds (documented —
    * normalizing by present-seeds would silently re-weight when a
    * seed drops out of the crawl).
    *
    * Scale shape: identical to [[run]] (the seed flag is one
    * broadcast hash-join against a metadata-sized set) — per
    * iteration one (dst, contrib) partial-agg shuffle.
    */
  def runPersonalized(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      iters: Int,
      scale: Long = 1000000000L,
      checkpointInterval: Int = 5): DataFrame = {
    require(checkpointInterval >= 1,
      s"checkpointInterval must be >= 1, got $checkpointInterval")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val e = Plans.barrier(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    val nodes = Plans.barrier(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct())
    val s = Plans.barrier(seeds.select(col("node")).distinct())
    val nSeeds = s.count() // bounded driver scalar
    require(nSeeds > 0, "empty seed set")
    // outdeg pre-joined into the barriered edges once, as in [[run]]
    val ed = Plans.barrier(e.join(
      e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src"))

    val flagged = Plans.barrier(nodes
      .join(broadcast(s.withColumn("is_seed", lit(1L))), Seq("node"), "left")
      .select(col("node"), coalesce(col("is_seed"), lit(0L)).as("is_seed")))
    val tele = (15L * scale) / (100L * nSeeds)
    var ranks = flagged.select(col("node"),
      (col("is_seed") * lit(scale / nSeeds)).as("rank"))
    for (i <- 1 to iters) {
      val contrib = ed
        .join(ranks, ed("src") === ranks("node"))
        .select(col("dst"),
          expr("(85 * rank) div (100 * outdeg)").as("c"))
        .groupBy("dst").agg(sum("c").as("contrib"))
      val next = flagged
        .join(contrib, flagged("node") === contrib("dst"), "left")
        .select(col("node"), col("is_seed"),
          (col("is_seed") * lit(tele)
            + coalesce(col("contrib"), lit(0L))).as("rank"))
      ranks = cutEvery(checkpointInterval, i, iters, next)
    }
    ranks.select(col("node"), col("rank").as("rank_u"))
  }

  /** [[runPersonalized]] as DuckDB SQL — same generated-CTE chain as
    * [[sql]]; `seedsCte` must produce one column `node`.
    */
  def personalizedSql(edgesCte: String, seedsCte: String, iters: Int,
      scale: Long = 1000000000L): String = {
    val base =
      s"""WITH raw_e AS ($edgesCte),
         |ed AS (SELECT DISTINCT src, dst FROM raw_e
         |       WHERE src IS NOT NULL AND dst IS NOT NULL),
         |nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
         |deg AS (SELECT src AS node, count(*) AS outdeg FROM ed GROUP BY src),
         |sd AS (SELECT DISTINCT node FROM ($seedsCte)),
         |ns AS (SELECT count(*) AS n FROM sd),
         |fl AS (SELECT nd.node,
         |       CASE WHEN sd.node IS NULL THEN 0 ELSE 1 END AS is_seed
         |       FROM nodes nd LEFT JOIN sd ON nd.node = sd.node),
         |r0 AS (SELECT node,
         |       is_seed * (CAST($scale AS BIGINT) // (SELECT n FROM ns))
         |         AS rank
         |       FROM fl)""".stripMargin
    val iterCtes = (1 to iters).map { k =>
      s"""r$k AS (
         |  SELECT f.node,
         |    f.is_seed * ((15 * CAST($scale AS BIGINT))
         |        // (100 * (SELECT n FROM ns)))
         |      + COALESCE(c.contrib, 0) AS rank
         |  FROM fl f LEFT JOIN (
         |    SELECT ed.dst AS node,
         |      SUM((85 * r.rank) // (100 * d.outdeg)) AS contrib
         |    FROM ed
         |    JOIN r${k - 1} r ON ed.src = r.node
         |    JOIN deg d ON ed.src = d.node
         |    GROUP BY ed.dst) c ON f.node = c.node)""".stripMargin
    }
    val all = (base +: iterCtes).mkString(",\n")
    s"""$all
       |SELECT node, CAST(rank AS BIGINT) AS rank_u FROM r$iters""".stripMargin
  }

  /** The SAME computation as DuckDB SQL — chained CTEs r0..rK
    * generated by the same loop structure, so the oracle cannot
    * drift from the Spark semantics. `edgesCte` must be a SQL query
    * producing columns (src, dst).
    */
  def sql(edgesCte: String, iters: Int, scale: Long = 1000000000L): String = {
    val base =
      s"""WITH raw_e AS ($edgesCte),
         |ed AS (SELECT DISTINCT src, dst FROM raw_e
         |       WHERE src IS NOT NULL AND dst IS NOT NULL),
         |nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
         |deg AS (SELECT src AS node, count(*) AS outdeg FROM ed GROUP BY src),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |r0 AS (SELECT node,
         |       CAST($scale AS BIGINT) // (SELECT n FROM nn) AS rank
         |       FROM nodes)""".stripMargin
    val iterCtes = (1 to iters).map { k =>
      s"""r$k AS (
         |  SELECT nd.node,
         |    (15 * CAST($scale AS BIGINT)) // (100 * (SELECT n FROM nn))
         |      + COALESCE(c.contrib, 0) AS rank
         |  FROM nodes nd LEFT JOIN (
         |    SELECT ed.dst AS node,
         |      SUM((85 * r.rank) // (100 * d.outdeg)) AS contrib
         |    FROM ed
         |    JOIN r${k - 1} r ON ed.src = r.node
         |    JOIN deg d ON ed.src = d.node
         |    GROUP BY ed.dst) c ON nd.node = c.node)""".stripMargin
    }
    val all = (base +: iterCtes).mkString(",\n")
    s"""$all
       |SELECT node, CAST(rank AS BIGINT) AS rank_u FROM r$iters""".stripMargin
  }
}
