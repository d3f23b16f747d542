package graft.dedup

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ann.Ann
import graft.functions.{TextHashes, VectorColumns}

class DedupAnnSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  describe("Dedup.exact") {
    it("keeps min id per distinct content with multiplicity") {
      import spark.implicits._
      val out = Dedup.exact(docs(
        1L -> "a b c", 2L -> "a b c", 3L -> "other"), "doc_id", "text")
        .as[(Long, Long)].collect().toSet
      out shouldBe Set((1L, 2L), (3L, 1L))
    }
  }

  describe("TextHashes expressions") {
    import spark.implicits._
    it("wordShingleHashes is case/whitespace-insensitive and distinct-sorted") {
      val out = docs(1L -> "A b  c", 2L -> "a B C")
        .select(TextHashes.wordShingleHashes(col("text"), 2).as("hs"))
        .as[Array[Long]].collect()
      out(0) shouldBe out(1)
      out(0) shouldBe out(0).distinct.sorted
    }
    it("short docs collapse to one whole-document shingle") {
      val out = docs(1L -> "hello")
        .select(TextHashes.wordShingleHashes(col("text"), 3).as("hs"))
        .as[Array[Long]].head()
      out.length shouldBe 1
    }
    it("simhashPoly64 agrees on identical token streams") {
      val fps = docs(1L -> "x y z", 2L -> "X  y z")
        .select(TextHashes.simhashPoly64(col("text"))).as[Long].collect()
      fps(0) shouldBe fps(1)
    }
    it("simhashPoly64 matches independently computed golden vectors (cross-engine contract)") {
      // pinned from an independent Python implementation of the
      // char-polynomial + mix30 + bigram-vote pipeline — guards the
      // DuckDB-oracle contract against silent refactors
      import graft.functions.TextHashExprs
      TextHashExprs.mix30(0L) shouldBe 0L
      TextHashExprs.mix30(1L) shouldBe 472368083L
      TextHashExprs.mix30(114801L) shouldBe 802903180L
      TextHashExprs.mix30(1000000006L) shouldBe 902493993L
      val fps = docs(1L -> "one two three four", 2L -> "single")
        .select(TextHashes.simhashPoly64(col("text"))).as[Long].collect()
      fps(0) shouldBe 390346662085881597L
      fps(1) shouldBe 684070614965306856L
    }
    it("minhashSignature has numHashes slots, each a set minimum") {
      val sig = docs(1L -> "a b c d e f")
        .select(TextHashes.minhashSignature(
          TextHashes.wordShingleHashes(col("text"), 2), 8).as("s"))
        .as[Array[Long]].head()
      sig.length shouldBe 8
    }
  }

  describe("near-dup pipelines") {
    // 20 docs with distinct vocab + one near-identical pair
    lazy val corpus = {
      val distinct = (1L to 20L).map(i =>
        i -> (s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i " +
          s"theta$i iota$i kappa$i lambda$i mu$i"))
      val nearDup = 100L -> (s"zz " + distinct.head._2)
      docs(distinct :+ nearDup: _*)
    }

    it("minhashLsh finds exactly the injected near-dup pair") {
      import spark.implicits._
      val out = Dedup.minhashLsh(corpus, "doc_id", "text", tau = 0.5)
        .select("a", "b").as[(Long, Long)].collect().toSet
      out shouldBe Set((1L, 100L))
    }
    it("ngramJaccard finds the pair with the exact Jaccard value") {
      import spark.implicits._
      val out = Dedup.ngramJaccard(corpus, "doc_id", "text", n = 2, tau = 0.5)
        .as[(Long, Long, Double)].collect()
      out.map(r => (r._1, r._2)).toSet shouldBe Set((1L, 100L))
      // doc1: 12 tokens → 11 2-shingles; dup adds "zz alpha1" on top
      // of the same 11 → |∩| = 11, |∪| = 12
      out.head._3 shouldBe (11.0 / 12.0 +- 0.001)
    }
    it("ngramJaccard equals brute-force all-pairs at a borderline tau " +
        "(positional-filter exactness)") {
      import spark.implicits._
      // many overlapping docs built from a tiny shared token pool →
      // dense borderline pairs, incl. overlaps exactly AT the
      // threshold; pins the r15b PPJoin positional filter against
      // the no-false-negatives contract of the prefix-filter family
      val pool = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
      val docsSeq = (0 until 24).map { i =>
        val toks = (0 until 6).map(k => pool((i * 5 + k * 3) % pool.size))
        (i.toLong, toks.mkString(" "))
      }
      val df = docsSeq.toDF("doc_id", "text")
      val tau = 0.5
      val got = Dedup.ngramJaccard(df, "doc_id", "text", n = 2, tau = tau)
        .as[(Long, Long, Double)].collect()
        .map(r => ((r._1, r._2), r._3)).toMap
      def grams(t: String): Set[Seq[String]] =
        t.split("\\s+").toSeq.sliding(2).map(_.toSeq).toSet
      val expected = (for {
        (ia, ta) <- docsSeq; (ib, tb) <- docsSeq if ia < ib
        ga = grams(ta); gb = grams(tb)
        j = ga.intersect(gb).size.toDouble / ga.union(gb).size
        if j >= tau
      } yield (ia, ib) -> j).toMap
      got.keySet shouldBe expected.keySet
      expected.foreach { case (k, j) => got(k) shouldBe (j +- 1e-12) }
    }
    it("clusters resolves transitive duplicate chains to the min id") {
      import spark.implicits._
      // chain 1-2-3 plus isolated pair 10-11
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
      val out = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
      out shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
    }
    it("clusters converges on a 200-node chain within the O(log n) round budget") {
      import spark.implicits._
      // a path graph is the worst case for one-hop label propagation
      // (O(diameter) rounds); large/small-star contracts it in O(log n)
      val chain = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
      val out = Dedup.clusters(chain, maxIters = 15).as[(Long, Long)].collect()
      out.length shouldBe 200
      all(out.map(_._2)) shouldBe 0L
    }
    it("simhashPairs reports hamming 0 for identical docs") {
      import spark.implicits._
      val two = docs(1L -> "one two three four", 2L -> "one two three four")
      val out = Dedup.simhashPairs(two, "doc_id", "text")
        .as[(Long, Long, Long)].collect()
      out shouldBe Array((1L, 2L, 0L))
    }
    it("applyClusters keeps survivors and unpaired docs, drops members") {
      import spark.implicits._
      val corpus = docs(1L -> "a", 2L -> "b", 3L -> "c", 9L -> "solo")
      val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("doc_id", "cluster_id")
      Dedup.applyClusters(corpus, clusters, "doc_id")
        .select("doc_id").as[Long].collect().sorted shouldBe Array(1L, 9L)
    }
  }

  describe("VectorOps + Ann") {
    import spark.implicits._
    lazy val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(2f, 0f, 0f, 0f)),   // colinear with 0
      (3L, Array(1f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")

    it("cosine: colinear = 1, orthogonal = 0") {
      val out = vecs.filter(col("vec_id").isin(1L, 2L))
        .crossJoin(vecs.filter(col("vec_id") === 0L)
          .select(col("embedding").as("q")))
        .select(VectorColumns.cosine(col("embedding"), col("q")).as("c"))
        .as[Double].collect().sorted
      out(0) shouldBe 0.0 +- 1e-6
      out(1) shouldBe 1.0 +- 1e-6
    }
    it("bruteForceTopK ranks by cosine with deterministic ties") {
      val out = Ann.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0L),
        "vec_id", "embedding", k = 2)
        .select("neighbor_id", "rk").as[(Long, Int)].collect().sorted
      out shouldBe Array((2L, 1), (3L, 2)) // colinear first, then 45°
    }
    it("embeddingPairs finds scaled copies at cosine 1 in dim-4 space") {
      val out = Dedup.embeddingPairs(vecs, "vec_id", "embedding",
        tau = 0.99, bits = 8, bands = 2, dim = 4)
      out.select("a", "b").as[(Long, Long)].collect() should contain((0L, 2L))
    }
  }

  describe("bucketPairs") {
    import spark.implicits._
    it("splits a 10×maxBucket hot bucket into bounded tasks with FULL recall") {
      // 30 hot members at maxBucket=3 (10 splits) + 2 cold — every
      // qualifying pair must survive, exactly once
      val df = ((1L to 30L).map(i => (i, "hot")) ++ Seq((40L, "cold"), (41L, "cold")))
        .toDF("doc_id", "bucket").withColumn("p", col("doc_id") * 10)
      val pairs = Dedup.bucketPairs(df, Seq("bucket"), maxBucket = 3, Seq("p"))
        .select("a", "b").as[(Long, Long)].collect()
      pairs.length shouldBe (30 * 29 / 2 + 1) // no duplicate pairs
      pairs.toSet shouldBe
        ((1L to 30L).combinations(2).map(s => (s(0), s(1))).toSet + ((40L, 41L)))
    }
    it("carries payload columns and matches the uncapped result") {
      val df = (1L to 7L).map(i => (i, "b", i * 100)).toDF("doc_id", "bucket", "p")
      val split = Dedup.bucketPairs(df, Seq("bucket"), 2, Seq("p"))
        .select("a", "b", "p_a", "p_b").as[(Long, Long, Long, Long)].collect().toSet
      val full = Dedup.bucketPairs(df, Seq("bucket"), Int.MaxValue, Seq("p"))
        .select("a", "b", "p_a", "p_b").as[(Long, Long, Long, Long)].collect().toSet
      split shouldBe full
      split.foreach { case (a, b, pa, pb) => pa shouldBe a * 100; pb shouldBe b * 100 }
    }
  }

  describe("Dedup.contaminationReport") {
    it("reports the exact per-doc matched-gram fraction against the benchmark union") {
      // 4-grams; doc 1 shares its first 5 tokens (2 of its 4 grams) with
      // the benchmark, doc 2 is clean, doc 3 is an exact benchmark
      // member (fraction 1.0).
      import spark.implicits._
      val train = docs(
        (1L, "a b c d e x y"), // grams: "a b c d","b c d e","c d e x","d e x y"
        (2L, "p q r s t"),
        (3L, "m n o p"))
      val bench = docs(
        (10L, "a b c d e"), // grams: "a b c d", "b c d e"
        (11L, "m n o p"))
      val out = Dedup.contaminationReport(train, bench, "doc_id", "text", n = 4)
        .orderBy("doc_id")
        .as[(Long, Long, Long, Double)].collect()
      out shouldBe Array(
        (1L, 4L, 2L, 0.5),  // 4 grams, "a b c d" + "b c d e" matched
        (2L, 2L, 0L, 0.0),
        (3L, 1L, 1L, 1.0))
    }
  }
}
