package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared artifact-index discipline (ArtifactIndex — VERDICT r10
  * items 1+3): metadata-sized Token freshness probes must cost
  * O(batch + metadata) — proven by probing with a corpus whose
  * evaluation RAISES, so any scan would fail the test — while stale
  * tokens, mode switches, and torn artifacts still rebuild; plus the
  * empty-index loud-failure contract (ADVICE r10) for both indexed
  * families.
  */
class ArtifactIndexSpec extends SparkSpec {
  import spark.implicits._

  private val fsRoot = "target/scratch/artifact_index_spec"

  private def fresh(name: String): String = {
    val path = s"$fsRoot/$name"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    path
  }

  /** A (id, text) frame that THROWS if any job ever evaluates it —
    * the proof a Token probe never scans the corpus. */
  private def poisonedCorpus: DataFrame =
    spark.range(1).select(col("id"),
      raise_error(lit("corpus was scanned")).cast("string").as("text"))

  private val corpus = Seq(1L -> "a b", 2L -> "x y", 3L -> "a b x y")
  private val target = Seq("a b")

  private def sorted(df: DataFrame) =
    df.orderBy("doc_id").collect().map(_.toSeq).toList

  private def dsirRun(path: String, c: DataFrame,
      freshness: ArtifactIndex.Freshness) =
    sorted(graft.text.Dsir.indexedScore(spark, path, c,
      target.map(Tuple1(_)).toDF("text"),
      corpus.toDF("id", "text"), "id", "text", freshness))

  describe("ArtifactIndex.Token freshness (DSIR family)") {
    it("a token probe never scans the corpus: poisoned corpus + " +
        "matching token succeeds") {
      val path = fresh("dsir_token")
      val t1 = ArtifactIndex.Token(1L)
      val built = dsirRun(path, corpus.toDF("id", "text"), t1)
      // steady state: the corpus df would RAISE if evaluated — the
      // probe must pass without touching it
      dsirRun(path, poisonedCorpus, t1) shouldBe built
    }

    it("a stale token rebuilds (and a poisoned rebuild fails loudly, " +
        "proving the rebuild really rescans)") {
      val path = fresh("dsir_token_stale")
      dsirRun(path, corpus.toDF("id", "text"), ArtifactIndex.Token(1L))
      // bumped token + poisoned corpus: the mismatch forces a rebuild,
      // which MUST evaluate the corpus — the poison proves it
      val e = intercept[Exception] {
        dsirRun(path, poisonedCorpus, ArtifactIndex.Token(2L))
      }
      e.getMessage should include("corpus was scanned")
      // bumped token + real (changed) corpus: rebuild lands new counts
      val corpus2 = corpus :+ (4L -> "m n")
      dsirRun(path, corpus2.toDF("id", "text"),
        ArtifactIndex.Token(2L)) shouldBe
        sorted(graft.text.Dsir.score(corpus2.toDF("id", "text"),
          target.map(Tuple1(_)).toDF("text"), "id", "text")
          .filter(col("doc_id").isin(corpus.map(_._1): _*)))
    }

    it("a mode switch reads as a signature mismatch and rebuilds " +
        "explicitly") {
      val path = fresh("dsir_mode_switch")
      val viaFp = dsirRun(path, corpus.toDF("id", "text"),
        ArtifactIndex.Fingerprint)
      // same corpus, token mode: rows marker differs → rebuild (the
      // real corpus is evaluated once, then steady-state token reuse)
      dsirRun(path, corpus.toDF("id", "text"),
        ArtifactIndex.Token(7L)) shouldBe viaFp
      dsirRun(path, poisonedCorpus, ArtifactIndex.Token(7L)) shouldBe viaFp
      // and back: fingerprint mode rejects the token-signed artifact
      dsirRun(path, corpus.toDF("id", "text"),
        ArtifactIndex.Fingerprint) shouldBe viaFp
    }
  }

  describe("ArtifactIndex.Token freshness (LM family)") {
    it("probes O(metadata): poisoned reference + matching token " +
        "scores identically to the fingerprint-signed build") {
      val pathFp = fresh("lm_fp")
      val pathTok = fresh("lm_tok")
      val docs = corpus.toDF("id", "text")
      val viaFp = sorted(graft.text.LmFilter.indexedBigramLogprob(
        spark, pathFp, docs, docs, "id", "text")
        .withColumnRenamed("id", "doc_id"))
      sorted(graft.text.LmFilter.indexedBigramLogprob(
        spark, pathTok, docs, docs, "id", "text",
        freshness = ArtifactIndex.Token(3L))
        .withColumnRenamed("id", "doc_id")) shouldBe viaFp
      sorted(graft.text.LmFilter.indexedBigramLogprob(
        spark, pathTok, poisonedCorpus, docs, "id", "text",
        freshness = ArtifactIndex.Token(3L))
        .withColumnRenamed("id", "doc_id")) shouldBe viaFp
    }
  }

  describe("ArtifactIndex.fileToken (ADVICE r11 hardening)") {
    import org.apache.hadoop.fs.Path
    def fsOf(path: String) = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def put(fs: org.apache.hadoop.fs.FileSystem, path: String,
        bytes: Array[Byte], mtime: Long): Unit = {
      val out = fs.create(new Path(path), true)
      out.write(bytes); out.close()
      fs.setTimes(new Path(path), mtime, -1)
    }

    it("is deterministic and ignores listing order / underscore files") {
      val dir = fresh("ft_det")
      val fs = fsOf(dir)
      put(fs, s"$dir/part-0.txt", "aaaa".getBytes, 1000L)
      put(fs, s"$dir/part-1.txt", "bbbb".getBytes, 1000L)
      val t1 = ArtifactIndex.fileToken(spark, dir)
      put(fs, s"$dir/_SUCCESS", Array.emptyByteArray, 2000L)
      ArtifactIndex.fileToken(spark, dir) shouldBe t1
    }

    it("two same-(name, length) files under different subdirectories " +
        "do not XOR-cancel: the relative path is signed") {
      val dir = fresh("ft_subdir")
      val fs = fsOf(dir)
      put(fs, s"$dir/a/part-0.txt", "xxxx".getBytes, 1000L)
      put(fs, s"$dir/b/part-0.txt", "xxxx".getBytes, 1000L)
      // the pre-fix (basename, length) hash cancelled this pair to 0
      ArtifactIndex.fileToken(spark, dir) should not be
        ArtifactIndex.Token(0L)
      // and moving a file between subdirs bumps the token
      val t1 = ArtifactIndex.fileToken(spark, dir)
      fs.mkdirs(new Path(s"$dir/c"))
      fs.rename(new Path(s"$dir/b/part-0.txt"),
        new Path(s"$dir/c/part-0.txt"))
      ArtifactIndex.fileToken(spark, dir) should not be t1
    }

    it("a content rewrite preserving name and length bumps the token " +
        "via the modification time") {
      val dir = fresh("ft_rewrite")
      val fs = fsOf(dir)
      put(fs, s"$dir/part-0.txt", "aaaa".getBytes, 1000L)
      val t1 = ArtifactIndex.fileToken(spark, dir)
      put(fs, s"$dir/part-0.txt", "zzzz".getBytes, 2000L) // same length
      ArtifactIndex.fileToken(spark, dir) should not be t1
    }
  }

  describe("ArtifactIndex.latestVersionToken") {
    it("derives the token from the VersionedTable commit log and " +
        "bumps with each commit") {
      val path = fresh("vt_token")
      VersionedTable.commit(spark, path, corpus.toDF("id", "text"), 1000L)
      ArtifactIndex.latestVersionToken(spark, path) shouldBe
        ArtifactIndex.Token(0L)
      VersionedTable.commit(spark, path,
        (corpus :+ (4L -> "m n")).toDF("id", "text"), 2000L)
      ArtifactIndex.latestVersionToken(spark, path) shouldBe
        ArtifactIndex.Token(1L)
      an[IllegalArgumentException] should be thrownBy
        ArtifactIndex.latestVersionToken(spark, fresh("vt_empty"))
    }
  }

  describe("empty-index loud failure (ADVICE r10)") {
    it("DSIR: a zero-row index fails instead of scoring all-zero") {
      val empty = graft.text.Dsir.corpusIndex(
        Seq.empty[(Long, String)].toDF("id", "text"), "text")
      val e = intercept[IllegalArgumentException] {
        graft.text.Dsir.scoreAgainstIndex(empty,
          corpus.toDF("id", "text"),
          target.map(Tuple1(_)).toDF("text"), "id", "text")
      }
      e.getMessage should include("empty")
    }
    it("LM: a zero-row index fails instead of falling back to add-1") {
      val empty = graft.text.LmFilter.bigramLmIndex(
        Seq.empty[(Long, String)].toDF("id", "text"), "text")
      val e = intercept[IllegalArgumentException] {
        graft.text.LmFilter.scoreAgainstLmIndex(empty,
          corpus.toDF("id", "text"), "id", "text")
      }
      e.getMessage should include("empty")
    }
  }

  describe("ArtifactIndex.buildOrReuse read-failure log") {
    it("a first build logs nothing; a non-parquet file at the path " +
        "still logs and rebuilds") {
      def stderrOf(body: => Unit): String = {
        val buf = new java.io.ByteArrayOutputStream()
        val saved = System.err
        System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
        try body finally System.setErr(saved)
        buf.toString("UTF-8")
      }
      def indexed(path: String): Long =
        ArtifactIndex.buildOrReuse(spark, path, Seq("id"), _ => true)(
          corpus.toDF("id", "text").write.parquet(_)).count()

      val first = fresh("first_build")
      stderrOf(indexed(first) shouldBe 3L) should not include "[graft]"

      val torn = fresh("not_parquet")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(fsRoot))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(torn), "not parquet")
      stderrOf(indexed(torn) shouldBe 3L) should include(
        s"[graft] artifact index at $torn unreadable")
    }
  }

  describe("StagedSwap unique staging suffix (ADVICE r10)") {
    it("tagged debris from a crashed swap is Vacuum-recognizable and " +
        "does not block the next swap") {
      val path = fresh("swap_unique")
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // a prior crashed invocation left a tagged staging dir behind
      fs.mkdirs(new org.apache.hadoop.fs.Path(path + ".staging-deadbeef"))
      StagedSwap.overwrite(spark, path) { staging =>
        corpus.toDF("id", "text").write.mode("overwrite").parquet(staging)
      }
      spark.read.parquet(path).count() shouldBe 3L
      // the orphan survives (reclaimed by Vacuum, not clobbered)
      fs.exists(new org.apache.hadoop.fs.Path(
        path + ".staging-deadbeef")) shouldBe true
      val stats = Vacuum.vacuum(spark, fsRoot, retentionMs = 0L,
        now = System.currentTimeMillis() + 60000L)
      stats.nDeleted should be >= 1
      fs.exists(new org.apache.hadoop.fs.Path(
        path + ".staging-deadbeef")) shouldBe false
      // the live artifact itself is never swept
      spark.read.parquet(path).count() shouldBe 3L
    }
  }
}
