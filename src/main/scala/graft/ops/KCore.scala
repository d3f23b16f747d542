package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.Plans

/** k-core decomposition over an undirected edge list — the
  * graph-hygiene peel next to [[PageRank]]'s authority ranks: the
  * k-core is the maximal subgraph where every node keeps ≥ k
  * neighbors, the standard "dense, mutually-linked neighborhood"
  * signal (link-spam farms and real communities survive; pendant
  * chains and one-shot hosts peel away). Batagelj–Zaveršnik
  * semantics reached by simple iterated peeling: drop all nodes of
  * degree < k, recompute, repeat to fixpoint.
  *
  * Determinism: pure set/count arithmetic — no floats anywhere; the
  * fixpoint is unique regardless of peel order (the k-core is a
  * closure), so an engine unrolling MORE rounds than needed computes
  * the identical answer (extra rounds are no-ops once stable).
  * That is exactly how [[sql]] mirrors [[run]]: Spark iterates to
  * convergence, the oracle unrolls a fixed round count ≥ the
  * convergence round.
  *
  * Scale shape: edges symmetrize + dedupe once (one exchange) and
  * are barriered; each round is the alive-filtered degree count —
  * two keyed semi-joins + one partial-aggregated groupBy — and
  * rounds are bounded (each one removes ≥ 1 node or stops).
  * Driver state per round: one count scalar (the [[graft.dedup.Dedup]]
  * convergence-signature discipline).
  */
object KCore {

  /** @param edges (srcCol, dstCol) edge list, treated undirected;
    *   self-loops and duplicate edges collapse.
    * @return (node, core_degree): the k-core members with their
    *   degree inside the core.
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 30): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val dir = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
    val sym = Plans.barrier(dir.union(dir.select(col("b").as("a"), col("a").as("b")))
      .distinct())

    def degrees(alive: DataFrame): DataFrame = sym
      .join(alive.select(col("node").as("a")), "a")
      .join(alive.select(col("node").as("b")), "b")
      .groupBy("a").agg(count(lit(1)).as("deg"))

    var alive = Plans.barrier(sym.select(col("a").as("node")).distinct())
    var nAlive = alive.count() // bounded driver scalar
    var round = 0
    var stable = false
    // (node, deg) of the CURRENT alive set — carried so the stable
    // exit can reuse the converged round's degrees (r15): when the
    // filter removed nothing, next == alive as sets, so the degrees
    // just computed against `alive` ARE the core degrees — the old
    // final degrees(alive) pass (two joins + an aggregate) re-derived
    // exactly them.
    var aliveDeg: DataFrame = null
    while (!stable && round < maxRounds && nAlive > 0) {
      // round 1 shortcut (r15): every endpoint is alive, so the two
      // alive semi-joins are identities — degree straight off sym
      val degs =
        if (round == 0) sym.groupBy("a").agg(count(lit(1)).as("deg"))
        else degrees(alive)
      val next = Plans.barrier(degs.filter(col("deg") >= k)
        .select(col("a").as("node"), col("deg")))
      val nNext = next.count()
      stable = nNext == nAlive
      alive = next.select("node")
      aliveDeg = next
      nAlive = nNext
      round += 1
    }
    require(stable || nAlive == 0,
      s"k-core did not converge within $maxRounds rounds")
    if (stable && aliveDeg != null)
      aliveDeg.select(col("node"), col("deg").as("core_degree"))
    else // empty core (nAlive == 0): keep the schema-correct shape
      degrees(alive).select(col("a").as("node"),
        col("deg").as("core_degree"))
  }

  /** The SAME peel as DuckDB SQL — a0..aR alive sets generated by
    * the same loop structure (R rounds; extra rounds past the
    * fixpoint are no-ops, see class doc). `edgesCte` must produce
    * columns (src, dst).
    */
  def sql(edgesCte: String, k: Int, rounds: Int): String = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val base =
      s"""WITH raw_e AS ($edgesCte),
         |dir AS (SELECT src AS a, dst AS b FROM raw_e
         |        WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
         |sym AS (SELECT DISTINCT a, b FROM
         |        (SELECT a, b FROM dir UNION ALL SELECT b, a FROM dir)),
         |a0 AS (SELECT DISTINCT a AS node FROM sym)""".stripMargin
    val peels = (1 to rounds).map { i =>
      s"""d$i AS (SELECT e.a AS node, count(*) AS deg FROM sym e
         |  JOIN a${i - 1} x ON e.a = x.node
         |  JOIN a${i - 1} y ON e.b = y.node GROUP BY e.a),
         |a$i AS (SELECT node FROM d$i WHERE deg >= $k)""".stripMargin
    }
    s"""$base,
       |${peels.mkString(",\n")}
       |SELECT e.a AS node, count(*) AS core_degree FROM sym e
       |JOIN a$rounds x ON e.a = x.node
       |JOIN a$rounds y ON e.b = y.node
       |GROUP BY e.a""".stripMargin
  }
}
