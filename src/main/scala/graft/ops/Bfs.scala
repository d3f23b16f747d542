package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.Plans

/** Multi-source BFS hop distance over an undirected edge list —
  * "how many clicks from the seed set is every node?" — the reach
  * readout next to [[KCore]]'s density peel and [[PageRank]]'s
  * authority ranks: crawl-frontier planning ("everything within 3
  * hops of the whitelist"), link-spam triage (spam farms sit FAR
  * from trusted seeds — the TrustRank intuition in hop space), and
  * partner-graph blast-radius questions all reduce to it.
  *
  * Level-synchronous frontier expansion: round i labels the
  * neighbors of round i−1's frontier that are still unlabeled, so a
  * node's label is its true minimum hop count — determinism is
  * structural (no tie-breaks: ALL nodes at distance i label in
  * round i), and extra rounds past exhaustion are no-ops, which is
  * what lets the DuckDB oracle UNROLL a fixed round count while
  * Spark iterates to an empty frontier ([[KCore]]'s contract).
  *
  * Scale shape: edges symmetrize + dedupe once and are barriered;
  * each round is one keyed join (edges ⋈ frontier) + an anti-join
  * against the labeled set — frontier and labeled sets carry
  * (node, hop) only, never payloads. Driver state per round: one
  * frontier-size scalar. Rounds are bounded by the graph diameter,
  * which for web/social graphs is small (the small-world property is
  * exactly why BFS-from-seeds is usable at 100 TB).
  */
object Bfs {

  /** @param edges undirected edge list (srcCol, dstCol); self-loops
    *   and duplicates collapse.
    * @param seeds one column `node`; seeds absent from the graph
    *   still report hops = 0 (they are valid start points).
    * @return (node, hops): every node reachable within `maxHops`.
    */
  def hops(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, maxHops: Int = 10): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val dir = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
    val sym = Plans.barrier(dir.union(dir.select(col("b").as("a"), col("a").as("b")))
      .distinct())
    sym.count() // materialize once; every round reuses it

    var labeled = Plans.barrier(seeds.select(col("node")).distinct()
      .withColumn("hops", lit(0)))
    var frontier = labeled
    var nFrontier = frontier.count()
    var hop = 0
    while (nFrontier > 0 && hop < maxHops) {
      hop += 1
      val next = Plans.barrier(sym
        .join(frontier.select(col("node").as("a")), "a")
        .select(col("b").as("node")).distinct()
        .join(labeled, Seq("node"), "left_anti")
        .withColumn("hops", lit(hop)))
      nFrontier = next.count()
      // labeled stays a LAZY union of the barriered per-hop levels
      // (r15): level row sets are disjoint and each is already
      // materialized, so re-materializing the union each round paid
      // one extra job and a second copy of the labeled set per hop
      labeled = labeled.union(next)
      frontier = next
    }
    labeled
  }

  /** The SAME expansion as DuckDB SQL, unrolled to `rounds` levels
    * (no-ops once the frontier empties). `edgesCte` must yield
    * (src, dst), `seedsCte` a single column `node`.
    */
  def sql(edgesCte: String, seedsCte: String, rounds: Int): String = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val base =
      s"""WITH raw_e AS ($edgesCte),
         |dir AS (SELECT src AS a, dst AS b FROM raw_e
         |        WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
         |sym AS (SELECT DISTINCT a, b FROM
         |        (SELECT a, b FROM dir UNION ALL SELECT b, a FROM dir)),
         |f0 AS (SELECT DISTINCT node FROM ($seedsCte)),
         |l0 AS (SELECT node, 0 AS hops FROM f0)""".stripMargin
    val levels = (1 to rounds).map { i =>
      s"""f$i AS (SELECT DISTINCT e.b AS node FROM sym e
         |  JOIN f${i - 1} f ON e.a = f.node
         |  WHERE e.b NOT IN (SELECT node FROM l${i - 1})),
         |l$i AS (SELECT node, hops FROM l${i - 1}
         |  UNION ALL SELECT node, $i AS hops FROM f$i)""".stripMargin
    }
    s"""$base,
       |${levels.mkString(",\n")}
       |SELECT node, hops FROM l$rounds""".stripMargin
  }
}
