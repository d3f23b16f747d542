package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.TextHashes

object FunnelPiiSpec {

  /** Reference form of the native `TextHashes.langPredict`: the
    * marker-count argmax composed from Columns, one CASE chain whose
    * decision procedure the DuckDB oracle states too — ties break
    * alphabetically, zero hits everywhere → "und".
    */
  def predictedLang(text: Column): Column = {
    import TextAnalysis.{LangMarkers, langScore}
    val scores = LangMarkers.map { case (l, ms) => l -> langScore(text, ms) }
    val zero = scores.map(_._2).reduce(_ + _) === 0
    val chain = scores.zipWithIndex.foldRight(lit("und")) {
      case (((l, s), i), e) =>
        val beatsAll = scores.zipWithIndex.collect {
          case ((_, o), j) if j != i => if (j < i) s > o else s >= o
        }.reduce(_ && _)
        when(beatsAll, lit(l)).otherwise(e)
    }
    when(zero, lit("und")).otherwise(chain)
  }
}

class FunnelPiiSpec extends SparkSpec {
  import spark.implicits._

  /** Reference form of TextHashes.bigramMaxMultiplicity as a Spark
    * higher-order-function chain: sort the bigrams, then fold the runs.
    */
  private def maxBigramMultiplicityHof(text: Column) = {
    val sorted = array_sort(TextHashes.wordBigrams(text))
    val scanned = aggregate(
      sorted,
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      })
    scanned.getField("best").cast("long")
  }

  describe("filterFunnel") {
    it("reports cumulative survivors per rule in one pass") {
      val docs = Seq(
        "one two three four five",          // 5 tokens
        "a a a a a a a a a a a a",          // 12 tokens, low diversity
        "the quick brown fox jumps over the lazy dog again and again")
        .toDF("text")
      val out = TextAnalysis.filterFunnel(docs, Seq(
          ("min_tokens", TextAnalysis.wsTokenCount(col("text")) >= 10),
          ("diversity", TextAnalysis.distinctTokenRatio(col("text")) >= 0.5)))
        .orderBy("stage")
        .as[(String, Long)].collect()
      out shouldBe Array(
        ("0_input", 3L),
        ("1_min_tokens", 2L),   // docs 2 and 3
        ("2_diversity", 1L))    // doc 3 only (doc 2 ratio = 1/12)
    }
    it("rules are cumulative, not independent") {
      // a doc failing rule 1 but passing rule 2 must not count in stage 2
      val docs = Seq("distinct words here").toDF("text") // 3 tokens, ratio 1.0
      val out = TextAnalysis.filterFunnel(docs, Seq(
          ("min_tokens", TextAnalysis.wsTokenCount(col("text")) >= 10),
          ("diversity", TextAnalysis.distinctTokenRatio(col("text")) >= 0.5)))
        .orderBy("stage").as[(String, Long)].collect()
      out.map(_._2) shouldBe Array(1L, 0L, 0L)
    }
  }

  describe("PII redaction") {
    it("counts and redacts emails and long numbers") {
      val docs = Seq(
        "reach me at jane.doe+x@mail.example.org or 5551234567 now",
        "no pii here 123 456").toDF("text")
      val out = docs.select(
          TextAnalysis.emailCount(col("text")).as("e"),
          TextAnalysis.longNumberCount(col("text")).as("n"),
          TextAnalysis.redactPii(col("text")).as("r"))
        .as[(Long, Long, String)].collect()
      out(0)._1 shouldBe 1L
      out(0)._2 shouldBe 1L
      out(0)._3 shouldBe "reach me at <EMAIL> or <NUM> now"
      out(1) shouldBe ((0L, 0L, "no pii here 123 456"))
    }
    it("redacts emails before numbers (digits inside emails don't double-count)") {
      val out = Seq("id 99887766 mail a1234567@x.co end").toDF("text")
        .select(TextAnalysis.redactPii(col("text"))).as[String].head()
      out shouldBe "id <NUM> mail <EMAIL> end"
    }
  }

  describe("repetition scoring") {
    it("native scan agrees with the HOF reference on the documents table") {
      val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      docs.select(
          TextHashes.bigramMaxMultiplicity(col("text")).as("native"),
          maxBigramMultiplicityHof(col("text")).as("hof"))
        .filter(col("native") =!= col("hof")).count() shouldBe 0L
    }
    it("finds the max bigram multiplicity per row") {
      val out = Seq(
        "buy now buy now buy now",  // "buy now" ×3, "now buy" ×2 → 3
        "all distinct words here",  // all bigrams unique → 1
        "one")                      // no bigrams → 0
        .toDF("text")
        .select(TextHashes.bigramMaxMultiplicity(col("text")).as("m"),
          TextAnalysis.repetitionRatio(col("text")).as("r"))
        .as[(Long, Double)].collect()
      out(0) shouldBe ((3L, 3.0 / 5.0))
      out(1) shouldBe ((1L, 1.0 / 3.0))
      out(2) shouldBe ((0L, 0.0))
    }
  }

  describe("contamination") {
    it("flags train docs sharing enough n-grams with the eval set") {
      val evalSet = Seq((1L, "the quick brown fox jumps over the dog"))
        .toDF("doc_id", "text")
      val train = Seq(
        (10L, "zz the quick brown fox jumps over the dog"), // near copy
        (11L, "completely different text with nothing shared at all"))
        .toDF("doc_id", "text")
      val out = graft.dedup.Dedup.contamination(train, evalSet,
          "doc_id", "text", n = 4, minShared = 3)
        .as[(Long, Long, Long)].collect()
      out.map(t => (t._1, t._2)) shouldBe Array((10L, 1L))
      out(0)._3 should be >= 3L
    }
  }

  describe("multimodal resize + features") {
    import graft.multimodal.Multimodal
    it("resizePlan fits the box preserving aspect and never upscales") {
      val docs = Seq((3L, "video doc three")).toDF("doc_id", "text") // %4==3 → video
      val plan = Multimodal.resizePlan(
          Multimodal.decodeBatches(Multimodal.synthesizeAssets(docs, "doc_id")),
          maxSide = 224)
        .select("decoded.width", "decoded.height", "target_w", "target_h")
        .collect()(0)
      val (w, h, tw, th) = (plan.getInt(0), plan.getInt(1), plan.getInt(2), plan.getInt(3))
      math.max(tw, th) should be <= 224
      tw should be <= w
      th should be <= h
      // aspect preserved within floor rounding
      math.abs(tw.toDouble / th - w.toDouble / h) should be < 0.05
    }
    it("featureBatches is deterministic with the requested dimension") {
      val docs = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      def run() = Multimodal.featureBatches(
          Multimodal.decodeBatches(Multimodal.synthesizeAssets(docs, "doc_id")),
          dim = 8)
        .select("doc_id", "features").as[(Long, Seq[Float])].collect().toMap
      val (a, b) = (run(), run())
      a shouldBe b
      a(1L).length shouldBe 8
      a(1L) should not be a(2L)
      all(a(1L)) should (be >= 0.0f and be < 1.0f)
    }
  }

  describe("native LangPredict") {
    it("agrees with the composed-Column argmax on the documents table") {
      val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      val both = docs.select(
        TextHashes.langPredict(col("text")).as("native"),
        FunnelPiiSpec.predictedLang(col("text")).as("composed"))
      both.filter(col("native") =!= col("composed")).count() shouldBe 0L
    }
    it("returns 'und' when no marker hits") {
      val out = Seq("xyzzy plugh", "").toDF("text")
        .select(TextHashes.langPredict(col("text"))).as[String].collect()
      out shouldBe Array("und", "und")
    }
  }
}
