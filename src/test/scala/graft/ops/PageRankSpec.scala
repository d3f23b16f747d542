package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PageRankSpec extends SparkSpec {
  import spark.implicits._

  /** Independent reference implementation: plain Scala maps, same
    * integer semantics (floor division, dangling mass dropped).
    */
  private def reference(edges: Seq[(String, String)], iters: Int,
      scale: Long = 1000000000L): Map[String, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val out = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n = nodes.size.toLong
    val teleport = (15L * scale) / (100L * n)
    var ranks = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val contrib = e.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => (85L * ranks(u)) / (100L * out(u)) }.sum).toMap
      ranks = nodes.map(v => v -> (teleport + contrib.getOrElse(v, 0L))).toMap
    }
    ranks
  }

  private val g = Seq(
    ("a", "b"), ("a", "c"), ("b", "a"), ("c", "a"), ("c", "b"),
    ("d", "a"), ("a", "b"), // duplicate edge must collapse
    ("e", "a")) // e has no in-links; "f" absent entirely

  describe("PageRank.run") {
    it("matches the independent reference implementation exactly") {
      val got = PageRank.run(g.toDF("s", "d"), "s", "d", iters = 6)
        .as[(String, Long)].collect().toMap
      got shouldBe reference(g, 6)
    }

    it("handles dangling nodes (sink keeps teleport-only rank)") {
      val edges = Seq(("a", "sink"), ("b", "sink"), ("a", "b"))
      val got = PageRank.run(edges.toDF("s", "d"), "s", "d", 3)
        .as[(String, Long)].collect().toMap
      got shouldBe reference(edges, 3)
      // the sink contributes nothing back: a's rank is teleport plus
      // nothing beyond b's back-contribution — just pin vs reference
      got("sink") should be > got("a")
    }

    it("zero iterations returns the uniform initial ranks") {
      val got = PageRank.run(g.toDF("s", "d"), "s", "d", 0)
        .as[(String, Long)].collect().toMap
      got shouldBe reference(g, 0)
      got.values.toSet.size shouldBe 1
    }

    it("checkpointInterval does not change the result") {
      val every = PageRank.run(g.toDF("s", "d"), "s", "d", 6,
        checkpointInterval = 1).as[(String, Long)].collect().toMap
      every shouldBe reference(g, 6)
    }

    it("both entry points reject checkpointInterval = 0") {
      val edges = g.toDF("s", "d")
      val seeds = Seq("a").toDF("node")
      an[IllegalArgumentException] should be thrownBy
        PageRank.run(edges, "s", "d", 6, checkpointInterval = 0)
      an[IllegalArgumentException] should be thrownBy
        PageRank.runPersonalized(edges, "s", "d", seeds, 6,
          checkpointInterval = 0)
    }

    it("null endpoints are dropped, not propagated") {
      val edges = Seq(("a", Some("b")), ("b", None), ("b", Some("a")))
        .toDF("s", "d")
      val got = PageRank.run(edges, "s", "d", 2)
        .as[(String, Long)].collect().toMap
      got.keySet shouldBe Set("a", "b")
    }

    it("rank mass never exceeds the scale (floor drops, never adds)") {
      val got = PageRank.run(g.toDF("s", "d"), "s", "d", 8)
        .as[(String, Long)].collect()
      got.map(_._2).sum should be <= 1000000000L
      all(got.map(_._2)) should be > 0L
    }
  }

  describe("PageRank.sql") {
    it("emits one CTE per iteration plus the base plan") {
      val sql = PageRank.sql("SELECT 'x' AS src, 'y' AS dst", 3)
      (0 to 3).foreach(k => sql should include(s"r$k"))
      sql should not include "r4"
      sql should include("// (100 * (SELECT n FROM nn))")
    }
  }
}
