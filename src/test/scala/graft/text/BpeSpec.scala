package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.Bpe.Merge

/** BPE training semantics (q143/q144): merge election, greedy
  * left-to-right replace, tie-breaking, early stop, encode+census.
  * Both halves of `Bpe.train` are pinned against the in-memory serial
  * simulator [[SerialBpe]].
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def words(ws: (String, Long)*) = ws.toDF("word", "cnt")

  describe("symbolize") {
    it("emits two-space-separated chars padded two spaces each end") {
      val r = words(("cat", 1L))
        .select(Bpe.symbolize(col("word"))).head().getString(0)
      r shouldBe "  c  a  t  "
    }
  }

  describe("train") {
    it("elects pairs by weighted count and merges greedily") {
      // ab×3, abc×2: pairs a-b:5, b-c:2 → merge1 (a,b,5);
      // then ab-c:2 → merge2 (ab,c,2); then nothing pairable → stop.
      val m = Bpe.train(spark, words(("ab", 3L), ("abc", 2L)), nMerges = 5)
      m shouldBe Seq(Merge(1, "a", "b", 5L), Merge(2, "ab", "c", 2L))
    }

    it("breaks count ties lexicographically on (lhs, rhs)") {
      // ba and ab both once: b-a:1 vs a-b:1 → (a,b) wins.
      val m = Bpe.train(spark, words(("ba", 1L), ("ab", 1L)), nMerges = 1)
      m shouldBe Seq(Merge(1, "a", "b", 1L))
    }

    it("merges non-overlapping occurrences left-to-right (aaa case)") {
      // 'aaa': pair a-a has multiplicity 2; after merging (a,a) the
      // word must be [aa, a] (greedy, not [a, aa], never [aa, aa]).
      val m1 = Bpe.train(spark, words(("aaa", 1L)), nMerges = 1)
      m1 shouldBe Seq(Merge(1, "a", "a", 2L))
      val enc = Bpe.tokenCensus(Bpe.applyMerges(words(("aaa", 1L)), m1))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      enc shouldBe Map("aa" -> 1L, "a" -> 1L)
    }

    it("a merged symbol participates in later merges") {
      // 'abab'×2: a-b:4 (vs b-a:2) → (a,b); then ab-ab:2 → (ab,ab).
      val m = Bpe.train(spark, words(("abab", 2L)), nMerges = 2)
      m shouldBe Seq(Merge(1, "a", "b", 4L), Merge(2, "ab", "ab", 2L))
    }
  }

  describe("trainBatched (production-vocab path, VERDICT r11 item 2)") {
    def pin(w: Seq[(String, Long)], n: Int, scans: Seq[Int] = Seq(4096)): Unit = {
      val serial = SerialBpe.merges(w, n)
      for (sw <- scans)
        withClue(s"scanWidth=$sw nMerges=$n words=$w: ") {
          Bpe.trainBatched(w.toDF("word", "cnt"), n,
            scanWidth = sw) shouldBe serial
        }
    }

    it("equals serial where naive top-B batching diverges: a merge " +
        "spawns a new pair that outranks the next disjoint candidate") {
      // snapshot: (m,n):6, (n,z):5, (p,q):5 — naive disjoint top-2
      // batches [(m,n),(p,q)], but serial's second pick is the NEW
      // pair (mn,z):5 ('mn' < 'p'); the threat rule must stop the
      // batch at (n,z)
      pin(Seq(("mnz", 5L), ("mn", 1L), ("pq", 5L)), 4)
    }

    it("equals serial when a sharing pair TIES an accepted candidate " +
        "later in scan order (the fixpoint truncation case)") {
      // snapshot: (m,n):6, then at count 5: (gh,q):5 before (n,z):5
      // ('gh' < 'n') — greedy accepts (gh,q) before seeing the tie
      // threat; the fixpoint must truncate it
      pin(Seq(("mnz", 5L), ("mn", 1L), ("ghq", 5L)), 4)
    }

    it("equals serial on tie-heavy and chain-merge fixtures") {
      pin(Seq(("ab", 2L), ("cd", 2L), ("ef", 2L)), 3)
      pin(Seq(("abc", 2L)), 3)
      pin(Seq(("abab", 2L), ("cdcd", 2L)), 6)
      pin(Seq(("aaa", 1L), ("aaaa", 1L)), 4)
    }

    it("equals serial under a tiny scan horizon (tailBound + " +
        "single-merge fallback paths)") {
      pin(Seq(("mnz", 5L), ("mn", 1L), ("pq", 5L), ("rs", 5L),
        ("tu", 4L), ("vw", 3L)), 6, scans = Seq(1, 2, 3))
    }

    it("equals serial on seeded pseudo-random corpora") {
      val rnd = new scala.util.Random(42)
      for (trial <- 1 to 2) {
        val alpha = "abcde"
        val w = (1 to 30).map { _ =>
          val len = 1 + rnd.nextInt(6)
          (Seq.fill(len)(alpha(rnd.nextInt(alpha.length))).mkString,
            (1 + rnd.nextInt(5)).toLong)
        }.distinct
        withClue(s"trial $trial: ") {
          pin(w, 12, scans = Seq(3, 4096))
        }
      }
    }

    it("equals serial on a larger seeded corpus deep into merge " +
        "exhaustion (50 words, 25 merges, narrow + wide scans)") {
      val rnd = new scala.util.Random(7)
      val alpha = "abcdefg"
      val w = (1 to 50).map { _ =>
        val len = 2 + rnd.nextInt(7)
        (Seq.fill(len)(alpha(rnd.nextInt(alpha.length))).mkString,
          (1 + rnd.nextInt(9)).toLong)
      }.distinct
      pin(w, 25, scans = Seq(5, 4096))
    }

    it("reports pass telemetry: batching takes fewer passes than " +
        "merges on a spread-count fixture") {
      val w = Seq(("ab", 9L), ("cd", 8L), ("ef", 7L), ("gh", 6L),
        ("ij", 5L), ("kl", 4L))
      // the first snapshot's pairs are symbol-disjoint with spread
      // counts, so one pass commits all 6 merges
      val snapshot = SerialBpe.pairCounts(
        w.map { case (s, c) => (s.map(_.toString).toVector, c) })
      Bpe.selectBatch(snapshot, 0L, _ => false) shouldBe snapshot
      snapshot.length shouldBe 6
      pin(w, 6)
    }
  }

  describe("trainAuto / trainDriver (driver-resident exact path, " +
      "VERDICT r12 item 2)") {
    it("trainDriver equals Spark train on the divergence fixtures") {
      for (w <- Seq(
        Seq(("mnz", 5L), ("mn", 1L), ("pq", 5L)),
        Seq(("mnz", 5L), ("mn", 1L), ("ghq", 5L)),
        Seq(("ab", 2L), ("cd", 2L), ("ef", 2L)),
        Seq(("abab", 2L), ("cdcd", 2L)),
        Seq(("aaa", 1L), ("aaaa", 1L))))
        withClue(s"words=$w: ") {
          Bpe.trainDriver(w.toIndexedSeq, 8) shouldBe
            SerialBpe.merges(w, 8)
        }
    }

    it("trainAuto picks the collected path by default and the " +
        "distributed path under a zero threshold — same merges") {
      val w = Seq(("mnz", 5L), ("mn", 1L), ("pq", 5L), ("abab", 3L))
      val serial = SerialBpe.merges(w, 6)
      Bpe.train(spark, w.toDF("word", "cnt"), 6) shouldBe serial
      Bpe.train(spark, w.toDF("word", "cnt"), 6,
        collectThreshold = 0) shouldBe serial
    }
  }

  describe("applyMerges chunked encode (bounded projection depth)") {
    it("chunked equals single-projection encode, including chains " +
        "that cross chunk boundaries") {
      val w = words(("abab", 2L), ("abcabc", 3L), ("dede", 1L),
        ("aabb", 2L))
      val m = Bpe.train(spark, w, nMerges = 7)
      m.length should be > 3 // the fixture must actually exercise chunks
      val full = Bpe.applyMerges(w, m)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted
      for (chunk <- Seq(1, 2, 3))
        withClue(s"chunkSize=$chunk: ") {
          Bpe.applyMerges(w, m, chunkSize = chunk)
            .collect().map(r => (r.getLong(0), r.getString(1)))
            .sorted shouldBe full
        }
    }
  }

  describe("applyMerges + tokenCensus") {
    it("encodes with the learned vocabulary and weights by word count") {
      val w = words(("ab", 3L), ("abc", 2L), ("d", 7L))
      val m = Bpe.train(spark, w, nMerges = 2)
      val census = Bpe.tokenCensus(Bpe.applyMerges(w, m))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      census shouldBe Map("ab" -> 3L, "abc" -> 2L, "d" -> 7L)
    }

    it("applyMerges with no merges yields plain characters") {
      val census = Bpe.tokenCensus(Bpe.applyMerges(words(("cat", 2L)), Nil))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      census shouldBe Map("c" -> 2L, "a" -> 2L, "t" -> 2L)
    }
  }

  describe("wordCounts") {
    it("lowercases, splits on single space, and drops non-[a-z]+ tokens") {
      val docs = Seq("The cat the CAT", "dog 42 the").toDF("text")
      val wc = Bpe.wordCounts(docs, "text")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      wc shouldBe Map("the" -> 3L, "cat" -> 2L, "dog" -> 1L)
    }
  }

  describe("byte-level alphabet (q339/q340, VERDICT r12 item 3)") {
    it("byteAlphabet is a 256-entry injection with no space, no " +
        "separator collision, and no surrogate") {
      Bpe.byteAlphabet.length shouldBe 256
      Bpe.byteAlphabet.distinct.length shouldBe 256
      Bpe.byteAlphabet.foreach { ch =>
        ch.length shouldBe 1
        ch should not be " "
        Character.isSurrogate(ch.charAt(0)) shouldBe false
      }
      // visible ASCII keeps itself (the GPT-2 convention)
      Bpe.byteAlphabet('a'.toInt) shouldBe "a"
      Bpe.byteAlphabet('!'.toInt) shouldBe "!"
      // space and control bytes shift into 0x100+
      Bpe.byteAlphabet(0x20).charAt(0).toInt should be >= 0x100
      Bpe.byteAlphabet(0x00).charAt(0).toInt should be >= 0x100
    }

    it("byteMapWord maps UTF-8 bytes 1:1 — ASCII stays itself, " +
        "multi-byte codepoints expand to one char per byte") {
      val r = Seq("Ab!", "é", "日").toDF("w")
        .select(Bpe.byteMapWord(col("w"))).collect().map(_.getString(0))
      r(0) shouldBe "Ab!"
      r(1).length shouldBe 2 // é = 2 UTF-8 bytes
      r(2).length shouldBe 3 // 日 = 3 UTF-8 bytes
      // and the mapping is the alphabet applied per byte
      val bytesOfE = "é".getBytes("UTF-8").map(b =>
        Bpe.byteAlphabet(b & 0xff)).mkString
      r(1) shouldBe bytesOfE
    }

    it("byteWordCounts keeps case and punctuation and counts " +
        "raw-token multiplicity") {
      val docs = Seq("The cat! the 42", "The  日本").toDF("text")
      val wc = Bpe.byteWordCounts(docs, "text")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      wc("The") shouldBe 2L
      wc("cat!") shouldBe 1L
      wc("42") shouldBe 1L
      wc("the") shouldBe 1L
      wc.keySet.exists(_.length == 6) shouldBe true // 日本 = 6 bytes
      wc.values.sum shouldBe 6L // the double space yields no empty token
    }

    it("byteUnmap inverts byteMapWord, and a torn multi-byte edge " +
        "decodes to replacement chars (stated behavior)") {
      val words = Seq("Ab!", "héllo", "日本", "x y".replace(" ", " "))
      val r = words.toDF("w")
        .select(Bpe.byteUnmap(Bpe.byteMapWord(col("w"))))
        .collect().map(_.getString(0))
      r shouldBe words.toArray
      // a token holding only the FIRST byte of é is a torn edge
      val torn = Bpe.byteAlphabet("é".getBytes("UTF-8")(0) & 0xff)
      Seq(torn).toDF("t").select(Bpe.byteUnmap(col("t")))
        .collect().head.getString(0) shouldBe "�"
    }

    it("training over byte-mapped words uses the unchanged merge " +
        "machinery (driver == Spark train)") {
      val docs = Seq("ab ab ab! é é", "ab é日").toDF("text")
      val words = Bpe.byteWordCounts(docs, "text")
      val serial = SerialBpe.merges(
        words.collect().map(r => (r.getString(0), r.getLong(1))).toSeq, 6)
      Bpe.train(spark, words, 6) shouldBe serial
      Bpe.train(spark, words, 6, collectThreshold = 0) shouldBe serial
      serial should not be empty
    }
  }

  describe("encodedSym / fertility arithmetic (q336)") {
    it("counts tokens per word under a known merge list") {
      // merges: (a,b) then (ab,c) — "abc" fuses to 1 token, "abd"
      // keeps (ab, d) = 2, "xyz" stays 3 chars
      val merges = Seq(Merge(1, "a", "b", 9L), Merge(2, "ab", "c", 5L))
      val m = words(("abc", 1L), ("abd", 1L), ("xyz", 1L))
        .select(col("word"), Bpe.encodedSym(col("word"), merges).as("sym"))
        .select(col("word"),
          org.apache.spark.sql.functions.size(
            expr("filter(split(sym, '  '), x -> x != '')")).as("t"))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      m shouldBe Map("abc" -> 1, "abd" -> 2, "xyz" -> 3)
    }
  }
}
