package graft.text

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.multimodal.Multimodal

class TextAnalysisSpec extends SparkSpec {
  import TextAnalysis._

  private def one(text: String) = {
    import spark.implicits._
    Seq(1L -> text).toDF("doc_id", "text")
  }

  describe("TextAnalysis") {
    it("substrCount counts non-overlapping occurrences") {
      import spark.implicits._
      one("the cat the hat").select(substrCount(padded(col("text")), " the "))
        .as[Long].head() shouldBe 2L
    }
    it("wsTokenCount counts single-space tokens") {
      import spark.implicits._
      one("a b c d").select(wsTokenCount(col("text"))).as[Long].head() shouldBe 4L
    }
    it("predictedLang picks the language with the most markers") {
      import spark.implicits._
      val out = Seq("the cat and a dog", "der hund und die katze",
          "le chat et les autres", "xyzzy plugh")
        .toDF("text").select(
          graft.functions.TextHashes.langPredict(col("text")),
          FunnelPiiSpec.predictedLang(col("text")))
        .as[(String, String)].collect()
      out.map(_._1) shouldBe Array("en", "de", "fr", "und")
      out.map(_._2) shouldBe out.map(_._1)
    }
    it("rollingFingerprint matches the hand-computed polynomial") {
      import spark.implicits._
      // "ab": ((0*31+97)*31+98) % 1e9+7 = 3105
      one("ab").select(rollingFingerprint(col("text")))
        .as[Long].head() shouldBe 3105L
    }
    it("token counts split alpha runs, digit runs and punct chars") {
      import spark.implicits._
      val r = one("ab2 cd-9!").select(
        alphaRunCount(col("text")), digitRunCount(col("text")),
        punctCharCount(col("text"))).as[(Long, Long, Long)].head()
      r shouldBe ((2L, 2L, 2L)) // [ab, cd], [2, 9], [-, !]
    }
  }

  describe("Multimodal") {
    it("decode PARSES the real container bytes back to the synthesized dims") {
      import spark.implicits._
      val docs = (0L until 12L).map(i => i -> s"payload-$i").toDF("doc_id", "text")
      val dec = Multimodal.decodeBatches(
        Multimodal.synthesizeAssets(docs, "doc_id"), batchSize = 3)
      dec.count() shouldBe 12
      // decoded dims equal the synthesis formulas — recovered from the
      // payload bytes, not carried through metadata
      dec.filter(col("mime") =!= "audio/wav")
        .select("doc_id", "decoded.width", "decoded.height")
        .collect().foreach { r =>
          r.getInt(1) shouldBe Multimodal.synthW(r.getLong(0))
          r.getInt(2) shouldBe Multimodal.synthH(r.getLong(0))
        }
      dec.filter(col("mime") === "audio/wav")
        .select("doc_id", "decoded.sample_rate").collect()
        .foreach(r => r.getInt(1) shouldBe Multimodal.synthRate(r.getLong(0)))
      // batch size must not change results
      val b = Multimodal.decodeBatches(
        Multimodal.synthesizeAssets(docs, "doc_id"), batchSize = 7)
        .select("doc_id", "decoded.width").collect().toSet
      dec.select("doc_id", "decoded.width").collect().toSet shouldBe b
    }
    it("a corrupted payload decodes to nulls instead of failing the job") {
      import graft.multimodal.MediaCodec
      MediaCodec.parse("image/jpeg", Array[Byte](1, 2, 3)) shouldBe None
      MediaCodec.parse("image/png",
        MediaCodec.synthesizePng(10, 10).updated(20, 9.toByte)) shouldBe None // CRC
      MediaCodec.parse("video/mp4", Array.fill[Byte](32)(0)) shouldBe None
      MediaCodec.parse("audio/wav", "RIFFxxxx".getBytes) shouldBe None
    }
    it("featureBatches extracts a real unit-norm byte-bigram descriptor") {
      import spark.implicits._
      val docs = (0L until 16L).map(i => i -> s"p$i").toDF("doc_id", "text")
      val feats = Multimodal.featureBatches(
          Multimodal.synthesizeAssets(docs, "doc_id"), dim = 8, batchSize = 5)
        .select("doc_id", "mime", "features")
        .as[(Long, String, Seq[Float])].collect()
      feats.length shouldBe 16
      // real descriptor contract: unit L2 norm, content-derived
      feats.foreach { case (_, _, v) =>
        v.length shouldBe 8
        math.abs(v.map(x => x.toDouble * x).sum - 1.0) should be < 1e-5
      }
      // identical payloads ⇒ identical vectors (ids 0 and 0 trivially;
      // regenerate and compare run-to-run determinism instead)
      val again = Multimodal.featureBatches(
          Multimodal.synthesizeAssets(docs, "doc_id"), dim = 8, batchSize = 3)
        .select("doc_id", "features").as[(Long, Seq[Float])].collect().toMap
      feats.foreach { case (id, _, v) => again(id) shouldBe v }
      // distinct container types must separate: a WAV byte-pair
      // distribution is not a JPEG's
      val byMime = feats.groupBy(_._2).view.mapValues(_.head._3).toMap
      val j = byMime("image/jpeg"); val w = byMime("audio/wav")
      val cos = j.zip(w).map { case (a, b) => a.toDouble * b }.sum
      cos should be < 0.999
    }
    it("sampleFrames emits every Nth frame index for video assets only") {
      import spark.implicits._
      val docs = (0L until 30L).map(i => i -> s"p$i").toDF("doc_id", "text")
      val dec = Multimodal.decodeBatches(
        Multimodal.synthesizeAssets(docs, "doc_id"))
      val frames = Multimodal.sampleFrames(dec, everyN = 10)
      frames.select("mime").distinct().as[String].collect() shouldBe
        Array("video/mp4")
      // every video contributes ceil(n_frames/10) sampled frames
      val perDoc = frames.groupBy("doc_id").count()
        .join(dec.select(col("doc_id"), col("decoded.n_frames").as("nf")), "doc_id")
        .as[(Long, Long, Int)].collect()
      perDoc.foreach { case (_, n, nf) =>
        n shouldBe ((nf + 9) / 10).toLong
      }
    }
  }

  describe("bm25Search") {
    it("ranks docs dense in rare query terms first") {
      import spark.implicits._
      val docs = Seq(
        (1L, "rare rare rare pad pad pad"),   // dense in the rare term
        (2L, "rare pad pad pad pad pad"),
        (3L, "common pad pad pad pad pad"),
        (4L, "common common pad pad pad pad"),
        (5L, "common pad pad pad pad pad"),
        (6L, "common pad pad pad pad pad")).toDF("doc_id", "text")
      val out = TextAnalysis.bm25Search(docs, "doc_id", "text",
        Seq("rare", "common"), topK = 3)
        .select("doc_id").as[Long].collect()
      // 'rare' (df=2) outweighs 'common' (df=4); tf breaks the rest
      out.head shouldBe 1L
      out should contain(2L)
    }
    it("is deterministic: two runs return identical rows in order") {
      import spark.implicits._
      val docs = (1L to 200L)
        .map(i => (i, s"w${i % 7} w${i % 5} w${i % 3} pad"))
        .toDF("doc_id", "text")
      val q = Seq("w0", "w1", "w2")
      val a = TextAnalysis.bm25Search(docs, "doc_id", "text", q, 10).collect()
      val b = TextAnalysis.bm25Search(docs, "doc_id", "text", q, 10).collect()
      a.map(_.toString) shouldBe b.map(_.toString)
    }
  }

  describe("tfidfTopK") {
    it("ranks rare-but-frequent words above ubiquitous ones") {
      import spark.implicits._
      val docs = Seq(
        (1L, "apple apple apple common common"),
        (2L, "banana banana common common common"),
        (3L, "cherry common common common common")).toDF("doc_id", "text")
      val out = TextAnalysis.tfidfTopK(docs, "doc_id", "text", 3L, 2)
        .select("doc_id", "rank", "word")
        .as[(Long, Int, String)].collect().sorted
      // 'common' is in every doc → idf ln(4/4)=0 → never beats the
      // doc-specific word; rank 2 falls to it anyway (only 2 words/doc)
      out shouldBe Array(
        (1L, 1, "apple"), (1L, 2, "common"),
        (2L, 1, "banana"), (2L, 2, "common"),
        (3L, 1, "cherry"), (3L, 2, "common"))
    }
    it("breaks exact score ties alphabetically") {
      import spark.implicits._
      val docs = Seq((1L, "beta alpha"), (2L, "gamma delta")).toDF("doc_id", "text")
      val out = TextAnalysis.tfidfTopK(docs, "doc_id", "text", 2L, 2)
        .select("doc_id", "rank", "word").as[(Long, Int, String)].collect().sorted
      out shouldBe Array(
        (1L, 1, "alpha"), (1L, 2, "beta"),
        (2L, 1, "delta"), (2L, 2, "gamma"))
    }
  }

  describe("lexicalStats") {
    it("counts tokens, types, hapaxes, and mean length per doc") {
      import spark.implicits._
      val docs = Seq((1L, "aa bb aa cc"), (2L, "x x x x")).toDF("doc_id", "text")
      val out = TextAnalysis.lexicalStats(docs, "doc_id", "text")
        .select("doc_id", "n_tokens", "n_distinct", "n_hapax", "n_chars",
          "ttr", "mean_len")
        .orderBy("doc_id")
        .as[(Long, Long, Long, Long, Long, Double, Double)].collect()
      out(0) shouldBe ((1L, 4L, 3L, 2L, 8L, 0.75, 2.0))
      // fully repetitive doc: zero hapaxes, TTR collapses
      out(1) shouldBe ((2L, 4L, 1L, 0L, 4L, 0.25, 1.0))
    }
  }

  describe("piiInventory") {
    import org.apache.spark.sql.functions.col
    it("counts occurrences and document coverage per class") {
      import spark.implicits._
      val df = Seq(
        ("s", "mail a@b.co and c@d.org plus ip 10.0.0.1"),
        ("s", "ssn 123-45-6789 and number 12345678"),
        ("s", "clean text")).toDF("source", "text")
      val r = TextAnalysis.piiInventory(df, "source", "text")
        .collect().head
      r.getLong(1) shouldBe 3            // n_docs
      r.getLong(2) shouldBe 2            // n_emails
      r.getLong(3) shouldBe 1            // docs_with_email
      r.getLong(4) shouldBe 1            // n_numbers (12345678)
      r.getLong(6) shouldBe 1            // n_ips
      r.getLong(8) shouldBe 1            // n_ssns
    }

    it("ip and ssn shapes don't cross-fire on plain digit runs") {
      import spark.implicits._
      val df = Seq(("s", "phone 5551234567 date 2024-01-02"))
        .toDF("source", "text")
      val r = TextAnalysis.piiInventory(df, "source", "text")
        .collect().head
      r.getLong(6) shouldBe 0
      r.getLong(8) shouldBe 0
      r.getLong(4) shouldBe 1
    }
  }
}
