package graft.tools

import org.apache.spark.sql.functions._

/** Diagnostic main measuring the steady-state INDEXED-PROBE cost of
  * the three artifact families (BASELINE.md's freshness/probe rows —
  * VERDICT r10 items 1, 2, 5): each index is built once, then the
  * probe leg is timed min-of-3 under both freshness modes, next to
  * the fresh full recompute it replaces. Not part of any gated
  * artifact — run it when revisiting the probe-cost story:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt -batch "runMain graft.tools.ProbeBench"
  */
object ProbeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.Runner.sfDir
    val spark = graft.Runner.session(sfDir, "ERROR")
    import graft.ops.ArtifactIndex

    val tag = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    val evens = docs.filter(col("doc_id") % 2 === 0)
    val odds = docs.filter(col("doc_id") % 2 === 1)
    val token = ArtifactIndex.fileToken(spark, s"$sfDir/documents.parquet")

    // SPARK_GRAFT_PROBE_ONLY=dsir,rouge narrows to matching prefixes
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    def minOf3(label: String)(run: => Long): Unit = {
      if (only.nonEmpty && !only.exists(label.startsWith)) return
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val n = run
        ((System.nanoTime() - t0) / 1e9, n)
      }
      println(f"[probebench] $label min=${ts.map(_._1).min}%.2fs " +
        s"runs=${ts.map(t => f"${t._1}%.2f").mkString(",")} " +
        s"rows=${ts.head._2} sf=$sfDir")
    }

    def fam(name: String): Boolean =
      only.isEmpty || only.exists(name.startsWith)

    // ---- LM family (q325 shape: evens train, odds probe) ----------
    if (fam("lm")) {
    val lmPath = s"target/scratch/probe_lm_$tag"
    graft.text.LmFilter.indexedBigramLogprob(spark, lmPath, evens, odds,
      "doc_id", "text").count() // build once
    minOf3("lm_probe_fingerprint") {
      graft.text.LmFilter.indexedBigramLogprob(spark, lmPath, evens, odds,
        "doc_id", "text").count()
    }
    // a token probe must hit a token-SIGNED artifact (a mode switch
    // rebuilds by design), so it gets its own path, built once
    val lmTokPath = s"target/scratch/probe_lm_tok_$tag"
    graft.text.LmFilter.indexedBigramLogprob(spark, lmTokPath, evens, odds,
      "doc_id", "text", freshness = token).count()
    minOf3("lm_probe_token") {
      graft.text.LmFilter.indexedBigramLogprob(spark, lmTokPath, evens,
        odds, "doc_id", "text", freshness = token).count()
    }
    }

    // ---- ORDER-3 KN family (q341 shape) — fresh recompute vs the
    //      token-signed persisted probe (r14: the probe must stay
    //      O(batch + metadata) like its order-2 siblings) -----------
    if (fam("lm3")) {
    val kn3 = graft.text.LmFilter.KneserNey(750)
    minOf3("lm3_fresh") {
      graft.text.LmFilter.trigramLogprob(odds, evens,
        "doc_id", "text", kn3).count()
    }
    val lm3TokPath = s"target/scratch/probe_lm3_tok_$tag"
    graft.text.LmFilter.indexedTrigramLogprob(spark, lm3TokPath, evens,
      odds, "doc_id", "text", kn3, freshness = token).count()
    minOf3("lm3_probe_token") {
      graft.text.LmFilter.indexedTrigramLogprob(spark, lm3TokPath, evens,
        odds, "doc_id", "text", kn3, freshness = token).count()
    }
    }

    // ---- DSIR family (q331 shape: full corpus, 1/3 batch) ---------
    if (fam("dsir")) {
    val target1 = docs.filter(col("doc_id") % 31 === 7)
    val batch = docs.filter(col("doc_id") % 3 === 1)
    val dsPath = s"target/scratch/probe_dsir_$tag"
    graft.text.Dsir.indexedScore(spark, dsPath, docs, target1, batch,
      "doc_id", "text").count()
    minOf3("dsir_probe_fingerprint") {
      graft.text.Dsir.indexedScore(spark, dsPath, docs, target1, batch,
        "doc_id", "text").count()
    }
    val dsTokPath = s"target/scratch/probe_dsir_tok_$tag"
    graft.text.Dsir.indexedScore(spark, dsTokPath, docs, target1, batch,
      "doc_id", "text", freshness = token).count()
    minOf3("dsir_probe_token") {
      graft.text.Dsir.indexedScore(spark, dsTokPath, docs, target1, batch,
        "doc_id", "text", freshness = token).count()
    }
    // the production shape: a SMALL batch (0.3% of the corpus) against
    // the same persisted distribution — here the freshness leg is the
    // probe's dominant cost, which is the whole point of Token mode
    val small = docs.filter(col("doc_id") % 300 === 1)
    minOf3("dsir_probe_small_fingerprint") {
      graft.text.Dsir.indexedScore(spark, dsPath, docs, target1, small,
        "doc_id", "text").count()
    }
    minOf3("dsir_probe_small_token") {
      graft.text.Dsir.indexedScore(spark, dsTokPath, docs, target1, small,
        "doc_id", "text", freshness = token).count()
    }
    }

    if (fam("rouge")) {
    // ---- ROUGE family (q282 pairing; FULL candidate set as batch,
    //      so the probe is comparable to q282's fresh both-sides) ----
    val cand = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      .withColumn("pair_id", expr("(doc_id - 1) div 2"))
    val refs = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      .withColumn("pair_id", expr("doc_id div 2"))
    minOf3("rouge_fresh_text") {
      graft.ml.Rouge.rougeN(cand, refs, "pair_id", "text", n = 2).count()
    }
    minOf3("rouge_fresh_hashed") {
      graft.ml.Rouge.rougeN(cand, refs, "pair_id", "text", n = 2,
        hashKeys = true).count()
    }
    for (hk <- Seq(false, true)) {
      val p = s"target/scratch/probe_rouge_${hk}_$tag"
      graft.ml.Rouge.indexedRougeN(spark, p, refs, cand, "pair_id",
        "text", n = 2, hashKeys = hk, freshness = token).count()
      minOf3(s"rouge_probe_token_hashed=$hk") {
        graft.ml.Rouge.indexedRougeN(spark, p, refs, cand, "pair_id",
          "text", n = 2, hashKeys = hk, freshness = token).count()
      }
    }
    // fingerprint-mode probe: same persisted counts but each probe
    // pays the (pair_id, text)-binding reference scan — the leg the
    // Token rows above remove (the delta IS the freshness cost)
    val pfp = s"target/scratch/probe_rouge_fp_$tag"
    graft.ml.Rouge.indexedRougeN(spark, pfp, refs, cand, "pair_id",
      "text", n = 2).count()
    minOf3("rouge_probe_fingerprint") {
      graft.ml.Rouge.indexedRougeN(spark, pfp, refs, cand, "pair_id",
        "text", n = 2).count()
    }
    }
    spark.stop()
  }
}
