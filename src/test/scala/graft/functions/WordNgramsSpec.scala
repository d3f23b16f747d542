package graft.functions

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions.{col, lit}
import graft.SparkSpec

/** Pins the native codegen'd WordNgrams loop bit-equal to the HOF
  * chains it replaced in LmFilter / Dsir / Rouge (r14 optimization:
  * the transform/element_at forms re-evaluated the token split per
  * output element — O(tokens²) interpreted work per row). Any drift
  * here is an oracle-parity break, not just a perf bug.
  */
class WordNgramsSpec extends SparkSpec {
  import spark.implicits._

  // the exact HOF forms the operators used before r14
  private def hofToks(c: org.apache.spark.sql.Column) =
    F.filter(F.split(F.lower(c), "\\s+"), t => F.length(t) > 0)

  private def hofNgrams(c: org.apache.spark.sql.Column, n: Int) = {
    val t = hofToks(c)
    F.when(F.size(t) < n, F.array().cast("array<string>"))
      .otherwise(F.transform(F.sequence(lit(0), F.size(t) - n), i =>
        F.concat_ws(" ", (0 until n).map(j => F.element_at(t, i + j + 1)): _*)))
  }

  private def hofDsirBigrams(c: org.apache.spark.sql.Column) = {
    val toks = F.filter(F.split(F.lower(c), "\\s+"), t => t =!= "")
    F.when(F.size(toks) < 2, F.array(F.array_join(toks, " ")))
      .otherwise(F.transform(F.sequence(lit(0), F.size(toks) - 2),
        i => F.concat(F.element_at(toks, i + 1), lit(" "),
          F.element_at(toks, i + 2))))
  }

  private val fixtures = Seq(
    "a b c d e",
    "Mixed CASE Words Here",
    "  leading and  double   spaces ",
    "tabs\tand\nnewlines\rplusvt\fff",
    "single",
    "",
    "   ",
    "two words",
    "punct, marks; stay. in-tokens!",
    "répété Déjà vu Ünïcode",
    "a a a a a a a a a a b b b b"
  ).toDF("text")

  describe("WordNgrams vs the HOF n-gram chain") {
    for (n <- 1 to 4) {
      it(s"equals transform/element_at n-grams at n=$n (empty fallback)") {
        val rows = fixtures.select(
          hofNgrams(col("text"), n).as("hof"),
          TextHashes.wordNgrams(col("text"), n).as("native"))
          .collect()
        rows.foreach { r =>
          r.getSeq[String](0) shouldBe r.getSeq[String](1)
        }
      }
    }
    it("equals Dsir's bigramsWithMultiplicity fallback (join fallback)") {
      val rows = fixtures.select(
        hofDsirBigrams(col("text")).as("hof"),
        TextHashes.wordNgrams(col("text"), 2, joinFallback = true)
          .as("native"))
        .collect()
      rows.foreach { r =>
        r.getSeq[String](0) shouldBe r.getSeq[String](1)
      }
    }
    it("n=1 equals the exploded token stream (LmFilter.toks)") {
      // the inputs the n=1 call sites (the tokenizer every operator
      // shares) see beyond the n-gram fixtures: NULL, each Java `\s`
      // separator alone, leading/trailing runs, non-ASCII uppercase
      val edge = Seq[String](null, "", "\t\n\u000B\f\r ",
        "a\tb\nc\u000Bd\fe\rf", "  lead and trail  ",
        "ÀÉÎ ÜNÏ ΣΟΦΊΑ Straße", "z y x y z").toDF("text")
      val rows = fixtures.union(edge).select(
        hofToks(col("text")).as("hof"),
        TextHashes.wordNgrams(col("text"), 1).as("native"))
        .collect()
      rows.foreach { r =>
        r.getSeq[String](0) shouldBe r.getSeq[String](1)
      }
      edge.select(TextHashes.wordNgrams(col("text"), 1))
        .as[Option[Seq[String]]].collect() shouldBe Array(
          None, Some(Nil), Some(Nil), Some(Seq("a", "b", "c", "d", "e", "f")),
          Some(Seq("lead", "and", "trail")),
          Some(Seq("àéî", "ünï", "σοφία", "straße")),
          Some(Seq("z", "y", "x", "y", "z")))
    }
    it("SortedJaccard equals size(intersect)/size(union) on sorted sets") {
      val rnd = new scala.util.Random(7)
      val rows = (0 until 200).map { _ =>
        val a = (0 until rnd.nextInt(40)).map(_ => rnd.nextInt(50).toLong)
          .distinct.sorted
        val b = (0 until rnd.nextInt(40)).map(_ => rnd.nextInt(50).toLong)
          .distinct.sorted
        (a, b)
      }.toDF("a", "b")
      val cmp = rows.select(
        (F.size(F.array_intersect(col("a"), col("b"))).cast("double") /
          F.size(F.array_union(col("a"), col("b")))).as("hof"),
        TextHashes.sortedJaccard(col("a"), col("b")).as("native"))
        .collect()
      cmp.foreach { r =>
        val (h, n) = (r.getDouble(0), r.getDouble(1))
        if (h.isNaN) n.isNaN shouldBe true else n shouldBe h
      }
    }
    it("SortedJaccard precondition pinned: arbitrary inputs normalize " +
        "via array_sort∘array_distinct (r15, VERDICT r14 item 7)") {
      // sortedJaccard's one-merge-pass REQUIRES sorted-distinct
      // arrays; this pins the documented normalize-then-call contract
      // on adversarial inputs (duplicates, unsorted, empty) — the
      // set-semantics HOF form is the ground truth. Every production
      // caller (wordShingleHashes) emits sorted-distinct
      // by construction; an out-of-contract caller must normalize
      // exactly like this.
      val rnd = new scala.util.Random(11)
      val rows = (0 until 200).map { _ =>
        // small value domain → duplicates likely; no sort, no distinct
        val a = (0 until rnd.nextInt(40)).map(_ => rnd.nextInt(25).toLong)
        val b = (0 until rnd.nextInt(40)).map(_ => rnd.nextInt(25).toLong)
        (a, b)
      }.toDF("a", "b")
      val cmp = rows.select(
        (F.size(F.array_intersect(col("a"), col("b"))).cast("double") /
          F.size(F.array_union(col("a"), col("b")))).as("hof"),
        TextHashes.sortedJaccard(
          F.array_sort(F.array_distinct(col("a"))),
          F.array_sort(F.array_distinct(col("b")))).as("native"))
        .collect()
      cmp.foreach { r =>
        val (h, n) = (r.getDouble(0), r.getDouble(1))
        if (h.isNaN) n.isNaN shouldBe true else n shouldBe h
      }
    }
    it("keeps multiplicity (no distinct)") {
      val g = Seq("x y x y x").toDF("text")
        .select(TextHashes.wordNgrams(col("text"), 2).as("g"))
        .as[Seq[String]].head()
      g shouldBe Seq("x y", "y x", "x y", "y x")
    }
  }
}
