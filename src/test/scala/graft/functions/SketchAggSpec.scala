package graft.functions

import graft.SparkSpec
import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.functions._

class SketchAggSpec extends SparkSpec {
  import spark.implicits._

  private def heapified(bytes: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(bytes))

  private def quantilesOf(bytes: Array[Byte], ps: Seq[Double]): Seq[Double] = {
    val sk = heapified(bytes)
    sk.getQuantiles(ps.toArray,
      org.apache.datasketches.quantilescommon.QuantileSearchCriteria.INCLUSIVE).toSeq
  }

  describe("SketchAgg.kllSketch") {
    it("estimates quantiles within the k=200 rank-error bound") {
      val n = 50000
      val df = (1 to n).map(_.toDouble).toDF("x")
      val bytes = df.agg(SketchAgg.kllSketch($"x")).head().getAs[Array[Byte]](0)
      val eps = SketchAgg.rankError()
      for ((p, est) <- Seq(0.1, 0.5, 0.9).zip(quantilesOf(bytes, Seq(0.1, 0.5, 0.9))))
        math.abs(est / n - p) should be <= 2 * eps
      heapified(bytes).getN shouldBe n.toLong
    }
    it("ignores nulls and yields null on an all-null/empty input") {
      val df = Seq(Some(1.0), None, Some(3.0)).toDF("x")
      val bytes = df.agg(SketchAgg.kllSketch($"x")).head().getAs[Array[Byte]](0)
      heapified(bytes).getN shouldBe 2L
      val empty = df.filter($"x".isNull)
        .agg(SketchAgg.kllSketch($"x")).head()
      empty.isNullAt(0) shouldBe true
    }
    it("aggregates with partial merge (distributed build, not a single reducer)") {
      val df = spark.range(0, 10000, 1, 8).select($"id".cast("double").as("x"))
      val plan = df.agg(SketchAgg.kllSketch($"x"))
        .queryExecution.executedPlan.toString
      // two-phase: partial ObjectHashAggregate on the map side
      plan should include("ObjectHashAggregate")
      plan should include("partial_kll_sketch")
    }
  }

  describe("SketchAgg.kllMerge") {
    it("merging per-group sketches equals sketching the whole (counts exact)") {
      val df = (1 to 20000).map(i => (i % 7, i.toDouble)).toDF("g", "x")
      val parts = df.groupBy("g").agg(SketchAgg.kllSketch($"x").as("sk"))
      val merged = parts.agg(SketchAgg.kllMerge($"sk")).head().getAs[Array[Byte]](0)
      heapified(merged).getN shouldBe 20000L
      val eps = SketchAgg.rankError()
      math.abs(quantilesOf(merged, Seq(0.5)).head / 20000 - 0.5) should be <= 2 * eps
    }
    it("sketches survive a parquet round-trip (the cross-job artifact path)") {
      val dir = s"target/scratch/kll_rt_${System.nanoTime()}"
      val df = (1 to 5000).map(i => (i % 3, i.toDouble)).toDF("g", "x")
      df.groupBy("g").agg(SketchAgg.kllSketch($"x").as("sk"))
        .write.mode("overwrite").parquet(dir)
      val merged = spark.read.parquet(dir)
        .agg(SketchAgg.kllMerge($"sk")).head().getAs[Array[Byte]](0)
      heapified(merged).getN shouldBe 5000L
    }
  }

  describe("SketchAgg.kllQuantiles") {
    it("extracts the requested ranks as an array column") {
      val df = (1 to 1000).map(_.toDouble).toDF("x")
      val out = df.agg(SketchAgg.kllSketch($"x").as("sk"))
        .select(SketchAgg.kllQuantiles($"sk", Seq(0.0, 1.0)).as("q"))
        .head().getSeq[Double](0)
      out.head shouldBe 1.0   // rank 0 → min
      out.last shouldBe 1000.0 // rank 1 → max
    }
    it("returns NULL, not an error, for an empty sketch built by Spark SQL") {
      // Spark's kll_sketch_agg_double yields a non-null EMPTY sketch
      // for a group with no non-null input, and its quantile getter
      // throws on one
      val sk = spark.sql(
        "SELECT kll_sketch_agg_double(CAST(NULL AS DOUBLE)) AS sk")
      sk.head().isNullAt(0) shouldBe false
      val out = sk.select(SketchAgg.kllQuantiles($"sk", Seq(0.5))).collect()
      out.length shouldBe 1
      out.head.isNullAt(0) shouldBe true
    }
    it("rejects out-of-range ranks") {
      val df = Seq(1.0).toDF("x")
      an[Exception] should be thrownBy
        df.agg(SketchAgg.kllSketch($"x").as("sk"))
          .select(SketchAgg.kllQuantiles($"sk", Seq(1.5)))
          .collect()
    }
  }
}
