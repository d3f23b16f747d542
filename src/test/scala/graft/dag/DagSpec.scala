package graft.dag

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DagSpec extends SparkSpec {

  private def m(name: String, deps: String*): Dag.Model =
    Dag.Model(name, deps, b => deps.map(b).reduceOption(_ unionByName _)
      .getOrElse(spark.range(3).toDF("id")))

  //     a → b → d
  //         b → e
  //     c (isolated)
  private lazy val graph = Seq(m("a"), m("b", "a"), m("d", "b"), m("e", "b"), m("c"))

  describe("selectors") {

    it("upstream is the ancestor closure including self") {
      Dag.upstream(graph, "d") shouldBe Set("a", "b", "d")
      Dag.upstream(graph, "a") shouldBe Set("a")
    }
    it("downstream is the descendant closure including self") {
      Dag.downstream(graph, "b") shouldBe Set("b", "d", "e")
      Dag.downstream(graph, "c") shouldBe Set("c")
    }
    it("dbt-style +name / name+ / +name+ selection") {
      Dag.select(graph, "+b") shouldBe Set("a", "b")
      Dag.select(graph, "b+") shouldBe Set("b", "d", "e")
      Dag.select(graph, "+b+") shouldBe Set("a", "b", "d", "e")
      Dag.select(graph, "b") shouldBe Set("b")
    }
    it("multi-part selectors union (the reference's space-joined build_selector shape)") {
      Dag.select(graph, "+b c") shouldBe Set("a", "b", "c")
      Dag.select(graph, " c   b+ ") shouldBe Set("c", "b", "d", "e")
      an[IllegalArgumentException] should be thrownBy Dag.select(graph, "   ")
    }
    it("runSelected builds only the needed subgraph and returns the selected set") {
      var built = List.empty[String]
      def tracked(name: String, deps: String*): Dag.Model =
        Dag.Model(name, deps, b => {
          built ::= name
          deps.map(b).reduceOption(_ unionByName _)
            .getOrElse(spark.range(3).toDF("id"))
        })
      val g = Seq(tracked("a"), tracked("b", "a"), tracked("d", "b"),
        tracked("boom", "a"), tracked("c"))
      val out = Dag.runSelected(g, "b+")
      out.keySet shouldBe Set("b", "d")
      built.toSet shouldBe Set("a", "b", "d") // 'boom'/'c' never built
    }
  }

  describe("topoSort") {
    it("orders dependencies before dependents, deterministically") {
      val order = Dag.topoSort(Seq(m("c", "a", "b"), m("b", "a"), m("a")))
        .map(_.name)
      order shouldBe Seq("a", "b", "c")
    }
    it("detects cycles and names the participants") {
      val e = intercept[Dag.CycleError] {
        Dag.topoSort(Seq(m("a", "b"), m("b", "a"), m("ok")))
      }
      e.getMessage should include("a, b")
    }
    it("rejects unknown dependencies") {
      an[IllegalArgumentException] should be thrownBy
        Dag.topoSort(Seq(m("a", "ghost")))
    }
    it("rejects invalid model names (reference naming rule)") {
      an[IllegalArgumentException] should be thrownBy m("9bad")
      an[IllegalArgumentException] should be thrownBy m("has space")
      noException should be thrownBy m("_ok-Name_2")
    }
  }

  describe("full refresh") {
    it("rebuilds an incremental model from scratch") {
      val wh = "target/scratch/dag-spec-fr"
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      import spark.implicits._
      def mdl(lo: Long, hi: Long) = Seq(Dag.Model("inc", Nil,
        _ => spark.range(lo, hi).toDF("id"), Dag.Incremental(Seq("id"))))
      Dag.runMaterialized(spark, mdl(0, 5), wh)
      // normal run merges (union of ids)...
      Dag.runMaterialized(spark, mdl(5, 8), wh)
      spark.read.parquet(s"$wh/inc").count() shouldBe 8
      // ...full refresh replaces
      val out = Dag.runMaterialized(spark, mdl(5, 8), wh, fullRefresh = true)
      out("inc").as[Long].collect().sorted shouldBe Array(5L, 6L, 7L)
    }
  }

  describe("Seeds") {
    it("loads csv seeds as warehouse tables with normalized columns") {
      import spark.implicits._
      val seeds = "target/scratch/dag-spec-seeds"
      val wh = "target/scratch/dag-spec-seeds-wh"
      for (d <- Seq(seeds, wh)) {
        val hp = new org.apache.hadoop.fs.Path(d)
        hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
      }
      Seq((1, "us"), (2, "de")).toDF("Country Id", "Code")
        .coalesce(1).write.option("header", "true").csv(s"$seeds/countries.csv")
      val out = graft.sources.Seeds.loadAll(spark, seeds, wh)
      out.keySet shouldBe Set("countries")
      out("countries").columns.toSeq shouldBe Seq("country_id", "code")
      out("countries").count() shouldBe 2
    }
  }

  describe("runMaterialized") {
    it("persists table models and merges incremental models across runs") {
      val wh = "target/scratch/dag-spec-wh"
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      import spark.implicits._

      def models(lo: Long, hi: Long) = Seq(
        Dag.Model("src", Nil, _ =>
          spark.range(lo, hi).toDF("id")
            .withColumn("k", col("id") % 3)
            .withColumn("v", col("id") * 10)),
        Dag.Model("latest", Seq("src"), b => {
          import org.apache.spark.sql.expressions.Window
          val w = Window.partitionBy("k").orderBy(col("id").desc)
          b("src").withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1).drop("rn")
        }, Dag.Incremental(Seq("k"))),
        Dag.Model("stats", Seq("src"), b =>
          b("src").agg(count(lit(1)).as("n")), Dag.Table))

      Dag.runMaterialized(spark, models(0, 5), wh)
      val out = Dag.runMaterialized(spark, models(5, 8), wh)

      // run 2 saw ids 5..7 → k=2→id7? latest per k after merge:
      // run1 latest: k0→id3(30), k1→id4(40), k2→id2(20)
      // run2 batch:  k0→id6, k1→id7, k2→id5 — all three keys replaced
      val latest = out("latest").select("k", "id").as[(Long, Long)]
        .collect().toMap
      latest shouldBe Map(0L -> 6L, 1L -> 7L, 2L -> 5L)
      // table model persisted: run 2 overwrote with its own count
      out("stats").head().getLong(0) shouldBe 3
      spark.read.parquet(s"$wh/stats").head().getLong(0) shouldBe 3
      debrisNextTo(s"$wh/stats") shouldBe empty
    }
    it("keeps a table model readable when its rebuild fails") {
      val wh = "target/scratch/dag-spec-fail"
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      def models(fail: Boolean) = Seq(Dag.Model("t", Nil, _ => {
        val ids = spark.range(3).toDF("id")
        if (!fail) ids
        else ids.select(when(col("id") === 2L, raise_error(lit("boom")))
          .otherwise(col("id")).as("id"))
      }, Dag.Table))

      Dag.runMaterialized(spark, models(fail = false), wh)
      an[Exception] should be thrownBy
        Dag.runMaterialized(spark, models(fail = true), wh)
      spark.read.parquet(s"$wh/t").count() shouldBe 3
      debrisNextTo(s"$wh/t") shouldBe empty
    }
  }

  describe("stateDiff (state:modified+)") {
    import Dag.ModelState
    val v1 = Seq(
      ModelState("a", "h_a", Nil),
      ModelState("b", "h_b", Seq("a")),
      ModelState("c", "h_c", Seq("b")),
      ModelState("d", "h_d", Seq("a")),
      ModelState("e", "h_e", Nil))

    it("classifies new/modified/downstream/unchanged/removed") {
      val v2 = Seq(
        ModelState("a", "h_a", Nil),
        ModelState("b", "h_b2", Seq("a")),        // modified
        ModelState("c", "h_c", Seq("b")),         // downstream of b
        ModelState("d", "h_d", Seq("a")),
        ModelState("f", "h_f", Seq("c")))         // new, also below b
      Dag.stateDiff(v1, v2).toMap shouldBe Map(
        "a" -> "unchanged", "b" -> "modified", "c" -> "downstream",
        "d" -> "unchanged", "e" -> "removed", "f" -> "new")
    }

    it("a dependency rewire counts as modified even with the same hash") {
      val v2 = v1.map {
        case m if m.name == "d" => m.copy(deps = Seq("b"))
        case m => m
      }
      Dag.stateDiff(v1, v2).toMap.apply("d") shouldBe "modified"
    }

    it("identical states are fully unchanged") {
      Dag.stateDiff(v1, v1).map(_._2).distinct shouldBe Seq("unchanged")
    }
  }
}
