package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

class ThetaSpec extends AnyFunSpec with Matchers with SparkSpec {

  import spark.implicits._

  private def est(c: org.apache.spark.sql.Column) = theta_sketch_estimate(c)

  describe("ThetaAgg") {
    it("is exact below 2^lgK: counts, intersection, difference") {
      val a = (0L until 300L).toDF("id")
        .agg(ThetaAgg.thetaSketch(col("id")).as("sk"))
      val b = (200L until 500L).toDF("id")
        .agg(ThetaAgg.thetaSketch(col("id")).as("sk"))
      val row = a.select(col("sk").as("a")).crossJoin(b.select(col("sk").as("b")))
        .select(
          est(col("a")).as("na"), est(col("b")).as("nb"),
          est(theta_intersection(col("a"), col("b"))).as("nab"),
          est(theta_difference(col("a"), col("b"))).as("nanotb"),
          est(theta_union(col("a"), col("b"))).as("nu"))
        .as[(Long, Long, Long, Long, Long)].head()
      row shouldBe ((300L, 300L, 100L, 200L, 500L))
    }

    it("string items sketch and intersect exactly too") {
      val df = Seq("x", "y", "z", "x").toDF("s")
        .agg(ThetaAgg.thetaSketch(col("s")).as("sk"))
      df.select(est(col("sk"))).as[Long].head() shouldBe 3L
    }

    it("byte-merge re-aggregation equals the single-pass union") {
      val df = (0L until 1000L).map(i => (i % 8, i)).toDF("shard", "id")
      val viaMerge = df.groupBy("shard")
        .agg(ThetaAgg.thetaSketch(col("id")).as("sk"))
        .agg(ThetaAgg.thetaUnion(col("sk")).as("sk"))
        .select(est(col("sk"))).as[Long].head()
      val direct = df.agg(ThetaAgg.thetaSketch(col("id")).as("sk"))
        .select(est(col("sk"))).as[Long].head()
      viaMerge shouldBe direct
      viaMerge shouldBe 1000L
    }

    it("estimation regime (n >> 2^lgK): relative error within 4σ bound") {
      val n = 200000L
      val lgK = 10 // 1024 nominal entries → RSE ≈ 1/sqrt(1024) ≈ 3.1%
      val got = spark.range(n)
        .agg(ThetaAgg.thetaSketch(col("id"), lgK).as("sk"))
        .select(est(col("sk"))).as[Long].head()
      val rse = 1.0 / math.sqrt(1 << lgK)
      math.abs(got - n).toDouble / n should be < 4 * rse
    }

    it("pairwise union honors lgK: exact-mode inputs stay exact") {
      // two 10k-distinct sketches at lgK=14 (exact mode); a union
      // through the default lgK=12 gadget would downsample to
      // estimation mode — the lgK passthrough must keep it exact
      val a = spark.range(0, 10000)
        .agg(ThetaAgg.thetaSketch(col("id"), 14).as("sk"))
      val b = spark.range(10000, 20000)
        .agg(ThetaAgg.thetaSketch(col("id"), 14).as("sk"))
      a.select(col("sk").as("a")).crossJoin(b.select(col("sk").as("b")))
        .select(est(theta_union(col("a"), col("b"), 15)))
        .as[Long].head() shouldBe 20000L
    }

    it("nulls are skipped; all-null input yields a null sketch") {
      Seq(Option(1L), None, Option(1L)).toDF("id")
        .agg(ThetaAgg.thetaSketch(col("id")).as("sk"))
        .select(est(col("sk"))).as[Long].head() shouldBe 1L
      Seq(Option.empty[Long]).toDF("id")
        .agg(ThetaAgg.thetaSketch(col("id")).as("sk"))
        .select(est(col("sk"))).collect().head.isNullAt(0) shouldBe true
    }

    it("intersection with an empty result estimates 0, not null") {
      val a = Seq(1L, 2L).toDF("id").agg(ThetaAgg.thetaSketch(col("id")).as("sk"))
      val b = Seq(9L, 10L).toDF("id").agg(ThetaAgg.thetaSketch(col("id")).as("sk"))
      a.select(col("sk").as("a")).crossJoin(b.select(col("sk").as("b")))
        .select(est(theta_intersection(col("a"), col("b"))))
        .as[Long].head() shouldBe 0L
    }
  }
}
