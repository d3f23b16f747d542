package graft.functions

import org.apache.spark.sql.functions._
import graft.{GraftExtensions, SparkSpec}

class GraftFunctionsSpec extends SparkSpec {

  describe("SQL registration") {
    it("registers graft_* functions usable from spark.sql") {
      // a new session starts from the builtin registry plus the
      // injected extensions: every graft function is already there
      val fresh = spark.newSession()
      import fresh.implicits._
      GraftExtensions.functions.map(_._1.funcName)
        .filterNot(fresh.catalog.functionExists) shouldBe empty
      Seq("a b c d").toDF("text").createOrReplaceTempView("gfs_docs")
      val viaSql = fresh.sql(
        """SELECT graft_simhash_poly64(text) AS fp,
          |  size(graft_word_shingle_hashes(text, 2)) AS n,
          |  size(graft_minhash_signature(
          |    graft_word_shingle_hashes(text, 2), 8)) AS sig_n
          |FROM gfs_docs""".stripMargin)
        .as[(Long, Int, Int)].head()
      // the full registered surface resolves from SQL
      fresh.sql(
        """SELECT size(graft_word_bigrams(text)),
          |  graft_bigram_max_mult(text), graft_lang_predict(text)
          |FROM gfs_docs""".stripMargin).collect().length shouldBe 1
      val viaColumns = Seq("a b c d").toDF("text")
        .select(Seq(TextHashes.simhashPoly64(col("text")).as("fp"),
          org.apache.spark.sql.functions.size(
            TextHashes.wordShingleHashes(col("text"), 2)).as("n")): _*)
        .as[(Long, Int)].head()
      assert(viaSql._1 == viaColumns._1)
      assert(viaSql._2 == viaColumns._2)
      assert(viaSql._3 == 8)
    }
    it("registers graft_cosine over float and double arrays") {
      val r = spark.sql(
        """SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
          |  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS same,
          |  graft_cosine(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS orth""".stripMargin)
        .head()
      r.getDouble(0) shouldBe 1.0 +- 1e-12
      r.getDouble(1) shouldBe 0.0 +- 1e-12
    }
    it("registers graft_mix30, matching the JVM mix and the Column form") {
      val viaSql = spark.sql(
        "SELECT graft_mix30(12345L) AS m, graft_mix30(0L) AS z").head()
      viaSql.getLong(0) shouldBe
        graft.functions.TextHashExprs.mix30(12345L)
      viaSql.getLong(1) shouldBe graft.functions.TextHashExprs.mix30(0L)
    }
    it("rejects a non-literal shingle size") {
      an[Exception] should be thrownBy
        spark.sql("SELECT graft_word_shingle_hashes('a', length('xx'))").collect()
    }
  }

  describe("sketch family SQL surface") {
    it("KLL, heavy-hitters, and theta resolve and compute from spark.sql") {
      import spark.implicits._
      (1 to 100).map(i => (i % 4, i.toDouble, s"tok${i % 5}", i % 10))
        .toDF("g", "x", "tok", "u").createOrReplaceTempView("gfs_sk")

      // KLL: group partials → merge bytes → quantiles
      val med = spark.sql(
        """SELECT kll_sketch_get_quantile_double(kll_merge_agg_double(sk), 0.5)
          |FROM (SELECT g, kll_sketch_agg_double(x) AS sk FROM gfs_sk GROUP BY g)"""
          .stripMargin).as[Double].head()
      med should (be >= 40.0 and be <= 60.0)

      // heavy hitters: exact regime, top-1 is the most frequent token
      val top = spark.sql(
        """SELECT graft_freq_top_k(graft_freq_merge(sk), 1)[0].item
          |FROM (SELECT g, graft_freq_sketch(tok) AS sk FROM gfs_sk GROUP BY g)"""
          .stripMargin).as[String].head()
      top shouldBe "tok0" // 1..100 % 5: each tok 20x; tie → item asc

      // theta: distinct + intersection via Spark's set-op functions
      val (n, inter) = spark.sql(
        """SELECT theta_sketch_estimate(a), theta_sketch_estimate(
          |    theta_intersection(a, b))
          |FROM (SELECT theta_sketch_agg(u) AS a FROM gfs_sk WHERE g < 2),
          |     (SELECT theta_sketch_agg(u) AS b FROM gfs_sk WHERE g >= 2)"""
          .stripMargin).as[(Long, Long)].head()
      n shouldBe 10L
      inter shouldBe 10L // both halves cover all residues mod 10
    }
  }

  describe("codegen path") {
    it("evaluates inside whole-stage codegen (no fallback) and agrees with interpreted eval") {
      import spark.implicits._
      // spark.range keeps the projection physical (a local Seq would
      // be folded into a LocalTableScan, bypassing codegen entirely)
      val df = spark.range(1, 101)
        .select(concat(lit("tok"), col("id"), lit(" alpha beta gamma tok"),
          pmod(col("id"), lit(7))).as("text"))
        .select(TextHashes.simhashPoly64(col("text")).as("fp"),
          TextHashes.wordShingleHashes(col("text"), 3).as("hs"))
      // the "*(n)" prefix marks operators inside a WholeStageCodegen
      // stage — the sketch projection must carry it (a CodegenFallback
      // expression would strip it from its Project)
      val plan = df.queryExecution.executedPlan.toString
      plan.linesIterator.find(_.contains("graft_simhash_poly64"))
        .getOrElse(fail("sketch projection not found in plan"))
        .trim should startWith("*(")
      val rows = df.as[(Long, Array[Long])].collect()
      rows.length shouldBe 100
      // spot-check one row against the direct helper
      val direct = TextHashExprs.simhashPolyEval(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          "tok1 alpha beta gamma tok1"))
      assert(rows.head._1 == direct)
    }
  }
}
