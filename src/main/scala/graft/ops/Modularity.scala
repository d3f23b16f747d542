package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Newman modularity of a community assignment (Newman & Girvan
  * 2004) — the clustering-quality grade for the graph family: q196
  * elects communities and q242 grades DEDUP clusters against planted
  * truth; modularity grades GRAPH communities against the degree-
  * preserving null model, no ground truth needed:
  *
  *   Q = Σ_c [ e_c/E − (D_c/E)² ]
  *
  * over the symmetric deduped edge set (E = directed-symmetric edge
  * count, e_c = intra-community directed edges, D_c = community
  * degree mass) — algebraically identical to the undirected m_c/m −
  * (D_c/2m)² form.
  *
  * Exactness: e_c, D_c, E are exact integers; each community term is
  * one fixed double chain rounded 9 dp (terms are per-row output —
  * no cross-row float sum; a decimal sum of the rounded terms gives
  * Q when needed).
  *
  * Scale shape: [[LabelProp.run]]'s keyed-shuffle rounds, then TWO
  * label hash joins on the edge list and a communities-sized rollup.
  */
object Modularity {

  /** Run `iters` label-propagation rounds over `(srcCol, dstCol)`
    * edges and grade the resulting communities. Returns per
    * community: (label, n_nodes, d_c, e_c, q_term). */
  def census(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int): DataFrame = {
    // share LabelProp's barriered symmetric edge set (r15, guide
    // §2.4): the census joins consume the IDENTICAL union-reverse →
    // null/self-loop filter → distinct set the rounds iterate over,
    // but rebuilding it here re-evaluated the caller's raw edge
    // lineage from scratch — for q306 a lineitem-sized lag window
    // plus two broadcast joins, paid twice per query. runWithEdges
    // hands back the one materialized copy.
    val (labels, ed) = LabelProp.runWithEdges(edges, srcCol, dstCol, iters)
    val joined = ed
      .join(labels.select(col("node").as("src"), col("label").as("ls")),
        Seq("src"))
      .join(labels.select(col("node").as("dst"), col("label").as("ld")),
        Seq("dst"))
    val eTot = joined.agg(count(lit(1)).as("e_all"))
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("n_nodes"))
    joined
      .groupBy(col("ls").as("label"))
      .agg(count(lit(1)).as("d_c"),
        sum(when(col("ls") === col("ld"), 1L).otherwise(0L)).as("e_c"))
      .join(sizes, Seq("label"))
      .crossJoin(broadcast(eTot))
      .select(col("label"), col("n_nodes"), col("d_c"), col("e_c"),
        round(col("e_c").cast("double") / col("e_all").cast("double") -
          (col("d_c").cast("double") / col("e_all").cast("double")) *
            (col("d_c").cast("double") / col("e_all").cast("double")),
          9).as("q_term"))
  }

  /** DuckDB restatement composed on [[LabelProp.chainSql]]'s shared
    * recurrence; a complete query (starts WITH), ending in the same
    * per-community rows ordered by label. */
  def sql(edgesCte: String, iters: Int): String =
    LabelProp.chainSql(edgesCte, iters) +
      s""",
         |mj AS (
         |  SELECT ed.src, ed.dst, a.label AS ls, b.label AS ld
         |  FROM ed JOIN l$iters a ON ed.src = a.node
         |    JOIN l$iters b ON ed.dst = b.node
         |), me AS (SELECT CAST(count(*) AS BIGINT) AS e_all FROM mj),
         |msz AS (
         |  SELECT label, CAST(count(*) AS BIGINT) AS n_nodes
         |  FROM l$iters GROUP BY label
         |)
         |SELECT g.label, msz.n_nodes, g.d_c, g.e_c,
         |  round(CAST(g.e_c AS DOUBLE) / CAST(me.e_all AS DOUBLE)
         |    - (CAST(g.d_c AS DOUBLE) / CAST(me.e_all AS DOUBLE))
         |      * (CAST(g.d_c AS DOUBLE) / CAST(me.e_all AS DOUBLE)),
         |    9) AS q_term
         |FROM (
         |  SELECT ls AS label, CAST(count(*) AS BIGINT) AS d_c,
         |    CAST(sum(CASE WHEN ls = ld THEN 1 ELSE 0 END) AS BIGINT)
         |      AS e_c
         |  FROM mj GROUP BY ls) g
         |JOIN msz ON g.label = msz.label
         |CROSS JOIN me
         |ORDER BY g.label""".stripMargin
}
