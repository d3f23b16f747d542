package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.Plans

/** Synchronous label propagation (Raghavan et al. 2007) — community
  * detection over an undirected graph, completing the local-graph
  * family (q131 PageRank ranks nodes, q149 triangles measure
  * clustering, q174 two-hop counts reach — this PARTITIONS the graph
  * into densely-linked groups: link farms, vendor cliques, topic
  * clusters).
  *
  * Determinism contract (plain LPA is notoriously order-dependent;
  * every choice here removes a freedom):
  *  - SYNCHRONOUS rounds — round k reads only round k−1's labels;
  *  - argmax by (count DESC, label ASC) — the lexicographically
  *    smallest of the most frequent neighbor labels wins ties;
  *  - fixed iteration count, no convergence race.
  *  Both engines replay the identical recurrence, so labels match
  *  bit-for-bit (the q131/q147 integer-loop discipline, with string
  *  labels instead of fixed-point scores).
  *
  * Scale shape: edges symmetrize + dedup once and are barriered.
  * Round 1 is one partial-aggregated min per node; each later round
  * is one keyed join (edges × labels on the node id), one
  * partial-aggregated (node, label) count and one per-node min over
  * (−count, label) structs — never a global sort. Every round but
  * the last is barriered, so the analyzed plan stays linear in
  * iterations (q147's lesson).
  */
object LabelProp {

  /** @param edges undirected edge list (endpoints of any orderable
    *   type); self-loops and duplicates are dropped.
    * @return (node, label) after `iters` synchronous rounds, label =
    *   the initial id of the elected community representative.
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = runWithEdges(edges, srcCol, dstCol, iters)._1

  /** [[run]], also returning the symmetric deduped barriered edge set
    * `ed(src, dst)` the rounds iterate over — so a caller that needs
    * the same undirected edges after propagation (e.g.
    * [[Modularity.census]]'s two label joins) reads the one stored
    * copy instead of re-evaluating the raw edge lineage from scratch
    * (r15, guide §2.4: for q306 that lineage is a lineitem-sized
    * window plus two joins, previously executed twice per query).
    */
  private[ops] def runWithEdges(edges: DataFrame, srcCol: String,
      dstCol: String, iters: Int): (DataFrame, DataFrame) = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val fwd = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val ed = Plans.barrier(fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct())
    // the last round stays lazy, so the caller's query runs it
    def cut(labels: DataFrame, round: Int) =
      if (round < iters) Plans.barrier(labels) else labels
    // round 1 needs no join: every node starts labelled by its own id
    // and `ed` is deduped, so each neighbor's label counts once and the
    // election is the smallest neighbor id
    var labels = cut(
      ed.groupBy(col("dst").as("node")).agg(min(col("src")).as("label")), 1)
    for (round <- 2 to iters) {
      val counted = ed.join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
      // argmax by (c DESC, label ASC) as a MIN over (−c, label)
      // structs (r15): struct ordering is lexicographic, so the
      // minimum is exactly the row the r14 sort-window elected — but
      // min is a decomposable aggregate (partial-aggregates map-side,
      // no per-node sort), where row_number() paid an exchange + full
      // sort of the (node, label) counts every round (guide §2.3
      // "aggregate before you shuffle").
      val elected = counted
        .groupBy("node")
        .agg(min(struct((-col("c")).as("nc"), col("label"))).as("e"))
        .select(col("node"), col("e.label").as("label"))
      labels = cut(elected, round)
    }
    (labels, ed)
  }

  /** Community census over the final labels: size plus the smallest
    * member as a stable exemplar.
    */
  def census(labels: DataFrame): DataFrame =
    labels.groupBy("label")
      .agg(count(lit(1)).as("n_members"), min(col("node")).as("exemplar"))

  /** The shared WITH-chain of the recurrence (generated MATERIALIZED
    * CTEs, Hits.sql's pattern), ending at `l<iters>(node, label)`
    * with `ed(src, dst)` (symmetric, deduped) also in scope —
    * composable by [[sql]] and [[Modularity.sql]]. `edgesCte` must
    * produce (src, dst). */
  private[ops] def chainSql(edgesCte: String, iters: Int): String = {
    require(iters >= 1)
    val base =
      s"""WITH raw_e AS MATERIALIZED ($edgesCte),
         |ed AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM raw_e
         |    UNION ALL SELECT dst AS src, src AS dst FROM raw_e)
         |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
         |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM ed),
         |l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes)"""
        .stripMargin
    val rounds = (1 to iters).map { k =>
      s"""c$k AS MATERIALIZED (
         |  SELECT ed.dst AS node, l.label, count(*) AS c
         |  FROM ed JOIN l${k - 1} l ON ed.src = l.node
         |  GROUP BY 1, 2),
         |l$k AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT node, label, row_number() OVER (PARTITION BY node
         |      ORDER BY c DESC, label) AS rn
         |    FROM c$k)
         |  WHERE rn = 1)""".stripMargin
    }
    (base +: rounds).mkString(",\n")
  }

  /** The same recurrence as DuckDB SQL. `edgesCte` must produce
    * (src, dst). */
  def sql(edgesCte: String, iters: Int): String =
    chainSql(edgesCte, iters) +
      s"""
         |SELECT label, count(*) AS n_members, min(node) AS exemplar
         |FROM l$iters GROUP BY label
         |ORDER BY label""".stripMargin
}
