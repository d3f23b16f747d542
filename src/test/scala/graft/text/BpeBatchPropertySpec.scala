package graft.text

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** Exhaustive pure-JVM property pin of the batched-BPE accept rule
  * (Bpe.selectBatch — the logic the serial-equality proof hangs on):
  * thousands of seeded random corpora are trained to exhaustion by
  * an in-memory SERIAL simulator and by a batched simulator built on
  * the ENGINE'S OWN selectBatch, and the merge sequences must be
  * identical at every position, for every scan width. No Spark — a
  * trial costs microseconds, so coverage is ~1000x the Spark-level
  * equality fixtures in BpeSpec (which remain the proof that the
  * distributed plumbing applies the selected batch faithfully). The
  * serial simulator is [[SerialBpe]], shared with BpeSpec.
  */
class BpeBatchPropertySpec extends AnyFunSpec with Matchers {

  import SerialBpe.{Pair, Word, applyToAll, pairCounts, serial}

  /** Batched BPE driven by the ENGINE's selectBatch. */
  private def batched(words0: Seq[Word], nMerges: Int,
      scanWidth: Int): Vector[Pair] = {
    var ws = words0
    val out = Vector.newBuilder[Pair]
    val known = scala.collection.mutable.HashSet.empty[String]
    var k = 0
    var stop = false
    while (k < nMerges && !stop) {
      val pc = pairCounts(ws)
      if (pc.isEmpty) stop = true
      else {
        val scanned = pc.take(scanWidth)
        val tailBound = if (pc.length > scanWidth) scanned.last._3 else 0L
        val batch = Bpe.selectBatch(scanned, tailBound, known)
          .take(nMerges - k)
        batch.foreach { case (l, r, _) =>
          ws = applyToAll(ws, l, r)
          known += l + r
          k += 1
        }
        out ++= batch
      }
    }
    out.result()
  }

  private def corpus(rnd: scala.util.Random, alpha: String,
      nWords: Int, maxLen: Int): Seq[Word] =
    (1 to nWords).map { _ =>
      val len = 1 + rnd.nextInt(maxLen)
      (Vector.fill(len)(alpha(rnd.nextInt(alpha.length)).toString),
        (1 + rnd.nextInt(9)).toLong)
    }.distinct

  describe("selectBatch serial-equality property (pure simulator)") {
    it("batched == serial on 3000 seeded random corpora across " +
        "alphabets, word shapes, and scan widths, to exhaustion") {
      val rnd = new scala.util.Random(20260816L)
      var trials = 0
      for {
        alpha <- Seq("ab", "abc", "abcde")
        nWords <- Seq(3, 8, 20)
        _ <- 1 to 70
      } {
        val ws = corpus(rnd, alpha, nWords, maxLen = 8)
        val ref = serial(ws, 64)
        for (sw <- Seq(1, 2, 3, 8, Int.MaxValue)) {
          trials += 1
          withClue(s"alpha=$alpha nWords=$nWords sw=$sw words=$ws: ") {
            batched(ws, 64, sw) shouldBe ref
          }
        }
      }
      trials should be >= 3000
    }

    it("batched == serial on repeated-letter runs (the conflation-" +
        "adjacent shape: every fusion is a prefix of another)") {
      for {
        ws <- Seq(
          Seq((Vector.fill(7)("a"), 3L), (Vector.fill(4)("a"), 2L)),
          Seq((Vector.fill(6)("a"), 1L), (Vector("a", "b", "a", "a"), 5L),
            (Vector.fill(5)("b"), 2L)),
          Seq((Vector("a", "a", "b", "b", "a", "a"), 4L),
            (Vector("b", "a", "a", "b"), 4L)))
        sw <- Seq(1, 2, Int.MaxValue)
      } withClue(s"sw=$sw words=$ws: ") {
        batched(ws, 64, sw) shouldBe serial(ws, 64)
      }
    }

    it("the fallback path fires and stays serial when every " +
        "candidate ties at the scan horizon") {
      // all pairs count 2, scanWidth 1 → tailBound == top count →
      // nothing clears the bound → Vector(scanned.head) fallback
      val ws = Seq((Vector("a", "b"), 2L), (Vector("c", "d"), 2L),
        (Vector("e", "f"), 2L))
      batched(ws, 8, 1) shouldBe serial(ws, 8)
    }
  }

  describe("trainDriver serial-equality property (the driver-" +
      "resident exact trainer, VERDICT r12 item 2)") {

    /** trainDriver's picks as simulator triples (iter dropped after
      * checking it is the contiguous 1..n the contract promises). */
    def driver(ws: Seq[Word], nMerges: Int): Vector[Pair] = {
      val merges = Bpe.trainDriver(
        ws.map { case (s, c) => (s.mkString, c) }.toIndexedSeq, nMerges)
      merges.map(_.iter) shouldBe (1 to merges.length)
      merges.iterator.map(m => (m.lhs, m.rhs, m.cnt)).toVector
    }

    it("trainDriver == serial on 600+ seeded random corpora to " +
        "exhaustion (same family as the selectBatch property)") {
      val rnd = new scala.util.Random(202608162L)
      var trials = 0
      for {
        alpha <- Seq("ab", "abc", "abcde")
        nWords <- Seq(3, 8, 20)
        _ <- 1 to 70
      } {
        val ws = corpus(rnd, alpha, nWords, maxLen = 8)
        trials += 1
        withClue(s"alpha=$alpha nWords=$nWords words=$ws: ") {
          driver(ws, 64) shouldBe serial(ws, 64)
        }
      }
      trials should be >= 600
    }

    it("trainDriver == serial on the repeated-letter / conflation-" +
        "adjacent fixtures (where pair counts can INCREASE)") {
      for (ws <- Seq(
        Seq((Vector.fill(7)("a"), 3L), (Vector.fill(4)("a"), 2L)),
        Seq((Vector.fill(6)("a"), 1L), (Vector("a", "b", "a", "a"), 5L),
          (Vector.fill(5)("b"), 2L)),
        Seq((Vector("a", "a", "b", "b", "a", "a"), 4L),
          (Vector("b", "a", "a", "b"), 4L))))
        withClue(s"words=$ws: ") { driver(ws, 64) shouldBe serial(ws, 64) }
    }

    it("cpCompare orders by codepoint (UTF-8/binary collation), " +
        "diverging from Java compareTo exactly where it must") {
      // U+E000 vs U+1F600 (surrogate pair): codepoint order says
      // E000 < 1F600; Java's UTF-16 unit order says the opposite
      val pua = "\uE000"
      val emoji = new String(Character.toChars(0x1F600))
      Bpe.cpCompare(pua, emoji) should be < 0
      pua.compareTo(emoji) should be > 0 // the divergence being fixed
      // agreement with compareTo on BMP-only strings
      for ((a, b) <- Seq(("ab", "ab"), ("a", "ab"), ("ab", "a"),
        ("abc", "abd"), ("", "a"), ("ż", "z")))
        Integer.signum(Bpe.cpCompare(a, b)) shouldBe
          Integer.signum(a.compareTo(b))
    }

    it("codepointSyms splits by codepoint, not UTF-16 unit (mirrors " +
        "symbolize's '(.)' regex on supplementary chars)") {
      Bpe.codepointSyms("cat") shouldBe Array("c", "a", "t")
      Bpe.codepointSyms("a𝄞b") shouldBe // a 𝄞 b
        Array("a", "𝄞", "b")
      Bpe.codepointSyms("") shouldBe Array.empty[String]
    }
  }
}
