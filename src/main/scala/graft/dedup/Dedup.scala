package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.plans.Plans.barrier

/** Document deduplication for LLM training-data pipelines: exact
  * (content hash), MinHash+LSH (Broder'97 resemblance sketches with
  * banding), SimHash (Charikar'02 via Manku et al.'s chunk
  * pigeonhole), n-gram Jaccard (prefix-filter set-similarity join,
  * Chaudhuri et al. SSJoin / Bayardo AllPairs), and embedding-cosine
  * near-dup through random-hyperplane buckets.
  *
  * Scale contract shared by every operator here: NO all-pairs join
  * ever materializes. Candidate generation is linear (per-row
  * sketches + explode), pairing happens only inside hash buckets
  * whose per-task size is bounded (`maxBucket` — a degenerate bucket,
  * e.g. the empty document, would otherwise pair quadratically on one
  * reducer; over-cap buckets split into cross-pairing sub-buckets
  * with FULL recall, see `bucketPairs`), and exact verification runs
  * only on candidates. Every shuffle is keyed on bucket keys or doc
  * ids, so a 1000-executor cluster partitions evenly.
  */
object Dedup {

  // ----------------------------------------------------------------
  // exact dedup — q22
  // ----------------------------------------------------------------

  /** One row per distinct content: the survivor (min id) and the
    * multiplicity. Grouping key is xxhash64(content) so the shuffle
    * carries 8-byte keys, not document bodies — at 100 TB the
    * exchange is ~10⁻⁵ of the input. (A 64-bit collision across a
    * trillion docs is possible; production pairs it with a
    * length check, as here.)
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(xxhash64(col(textCol)).as("content_hash"),
        length(col(textCol)).as("content_len"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  // ----------------------------------------------------------------
  // shingles + MinHash — q23
  // ----------------------------------------------------------------

  /** LSH banding of a signature: array of (band_id, band_hash) where
    * band_hash covers `rowsPerBand` consecutive signature slots.
    */
  def signatureBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array(Seq.tabulate(bands) { i =>
      struct(lit(i).as("band_id"),
        xxhash64(lit(i), slice(sig, i * rowsPerBand + 1, rowsPerBand))
          .as("band_hash"))
    }: _*)

  /** Near-duplicate pairs by MinHash-LSH, verified with exact Jaccard
    * on the (hashed) shingle sets. Returns (a, b, jaccard), a < b.
    *
    * The hashed set rides along through the band explode (the Spark
    * MLlib MinHashLSH join shape), so verification needs NO join back
    * to the corpus — collisions verify inline and only surviving
    * (a, b, jaccard) triples are deduplicated.
    */
  def minhashLsh(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      tau: Double = 0.7,
      maxBucket: Int = 100): DataFrame = {
    // barrier: shingle sets + signatures are computed exactly once,
    // then the band explode and the bucket self-join fan out from the
    // materialized sketch (ids + hashes only — never document text)
    val sketch = barrier(docs.select(col(idCol).as("doc_id"),
        graft.functions.TextHashes.wordShingleHashes(col(textCol), shingleK).as("hs"))
      .withColumn("bands", signatureBands(
        graft.functions.TextHashes.minhashSignature(col("hs"), numHashes),
        bands, numHashes / bands)))
    val banded = sketch
      .select(col("doc_id"), col("hs"), explode(col("bands")).as("b"))
      .select(col("doc_id"), col("hs"), col("b.band_id"), col("b.band_hash"))
    verifiedBucketPairs(banded, Seq("band_id", "band_hash"), tau, maxBucket)
  }

  /** Within-bucket pairs (a < b) carrying their hashed sets, verified
    * inline with exact Jaccard ≥ tau, then deduplicated across
    * buckets. A pair colliding in several buckets re-verifies per
    * collision — cheaper than shuffling sets through a distinct, since
    * survivors are sparse.
    */
  private def verifiedBucketPairs(
      df: DataFrame, keys: Seq[String], tau: Double, maxBucket: Int,
      withPos: Boolean = false): DataFrame = {
    val payloads = if (withPos) Seq("hs", "pos") else Seq("hs")
    val cands = bucketPairs(df, keys, maxBucket, payloads)
    // positional filter (PPJoin, r15b): a collision on gram g at
    // 0-based positions (i, j) of the docs' shared global order
    // bounds the overlap: common grams beyond g number at most
    // min(|A|-i-1, |B|-j-1) — and J ≥ τ needs overlap ≥
    // τ(|A|+|B|)/(1+τ). Pruning an over-bound collision is exact:
    // a true pair's FIRST common gram lies in both prefixes (it
    // precedes whatever common gram the prefix theorem guarantees)
    // and every common gram follows it in both orders, so that
    // collision row always passes; later-gram collisions of the same
    // pair are redundant candidates the final distinct would collapse
    // anyway. The 1e-6 slack only ever ADMITS borderline candidates
    // (exact Jaccard verification follows) — never prunes one.
    val positioned =
      if (!withPos) cands
      else cands.filter(
          (lit(1) + least(size(col("hs_a")) - col("pos_a") - 1,
            size(col("hs_b")) - col("pos_b") - 1)) * (1.0 + tau) + 1e-6 >=
            lit(tau) * (size(col("hs_a")) + size(col("hs_b"))))
        .drop("pos_a", "pos_b")
    positioned
      // length filter (PPJoin): J ≥ τ requires τ·max(|A|,|B|) ≤ min —
      // a scalar prune that skips the set intersection entirely
      .filter(greatest(size(col("hs_a")), size(col("hs_b"))) * tau <=
        least(size(col("hs_a")), size(col("hs_b"))))
      // threshold on the UNROUNDED ratio (rounding first would admit
      // pairs just below tau, e.g. 0.69996 → 0.7 at tau=0.7). The
      // reported value stays unrounded too: |∩|/|∪| is an exact small
      // int division, identical bitwise in any IEEE engine — rounding
      // would only ADD engine-specific half-way behavior.
      // hs_a/hs_b are wordShingleHashes output: sorted and distinct, as
      // sortedJaccard requires
      .select(col("a"), col("b"),
        graft.functions.TextHashes.sortedJaccard(col("hs_a"), col("hs_b")).as("jaccard"))
      .filter(col("jaccard") >= tau)
      .distinct()
  }

  // ----------------------------------------------------------------
  // incremental MinHash index — q110
  // ----------------------------------------------------------------

  /** The persistable MinHash-LSH index of a corpus: one row per
    * (doc, band) — (doc_id, hs, band_id, band_hash). ids + 64-bit
    * hashes only, never text: at 100 TB of documents the index is
    * orders of magnitude smaller and lives as a parquet table keyed
    * by (band_id, band_hash). This is what makes dedup INCREMENTAL —
    * the corpus is sketched once, then every new batch joins against
    * the index instead of rescanning corpus text (the q23 self-join
    * recomputes the whole corpus sketch per run; this shape pays
    * O(batch) per run).
    */
  def minhashIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4): DataFrame =
    barrier(docs.select(col(idCol).as("doc_id"),
        graft.functions.TextHashes.wordShingleHashes(col(textCol), shingleK).as("hs"))
      .withColumn("bands", signatureBands(
        graft.functions.TextHashes.minhashSignature(col("hs"), numHashes),
        bands, numHashes / bands)))
      .select(col("doc_id"), col("hs"), explode(col("bands")).as("b"))
      .select(col("doc_id"), col("hs"), col("b.band_id"), col("b.band_hash"),
        // banding parameters ride WITH the index (constant columns are
        // ~free in parquet): a probe built with different parameters
        // would silently miss every near-dup, so the artifact is
        // self-describing and minhashLshAgainstIndex validates it.
        lit(shingleK).as("shingle_k"), lit(numHashes).as("num_hashes"),
        lit(bands).as("num_bands"))

  /** Index metadata columns written by [[minhashIndex]] and required
    * by [[minhashLshAgainstIndex]].
    */
  private[dedup] val IndexMetaCols = Seq("shingle_k", "num_hashes", "num_bands")

  /** Near-duplicates of a NEW batch against an EXISTING index (the
    * incremental-ingest dedup step): sketch only the batch, equi-join
    * on (band_id, band_hash), verify candidates inline with exact
    * Jaccard on the hashed shingle sets. Returns one row per matched
    * (index doc `a`, batch doc `b`) with the exact jaccard — feed the
    * b side to an anti-join to drop near-dups of already-ingested
    * content, and union the batch's own index rows in afterwards.
    *
    * Scale: the join shuffles index rows by band key once (or zero
    * times if the index table is bucketed on the band key); skewed
    * degenerate bands split under AQE. Batch-side banding parameters
    * MUST match the ones the index was built with — the index's
    * self-describing metadata columns (written by [[minhashIndex]])
    * are validated here, so a mismatched call FAILS instead of
    * silently returning missed/garbage pairs.
    */
  def minhashLshAgainstIndex(
      index: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      tau: Double = 0.7): DataFrame = {
    require(IndexMetaCols.forall(index.columns.contains),
      s"index carries no banding metadata (${IndexMetaCols.mkString("/")}) — " +
        "rebuild it with Dedup.minhashIndex")
    // limit-1 scan: validation cost is one row regardless of index size
    index.select(IndexMetaCols.map(col): _*).head(1).foreach { r =>
      val got = (r.getInt(0), r.getInt(1), r.getInt(2))
      require(got == ((shingleK, numHashes, bands)),
        s"index was built with (shingleK, numHashes, bands)=$got but the " +
          s"probe asked for ($shingleK, $numHashes, $bands) — a mismatched " +
          "probe would miss near-dups silently")
    }
    val b = minhashIndex(batch, idCol, textCol, shingleK, numHashes, bands)
      .drop(IndexMetaCols: _*)
      .withColumnRenamed("doc_id", "b").withColumnRenamed("hs", "hs_b")
    val a = index
      .withColumnRenamed("doc_id", "a").withColumnRenamed("hs", "hs_a")
    a.join(b, Seq("band_id", "band_hash"))
      // PPJoin length prune, as in verifiedBucketPairs
      .filter(greatest(size(col("hs_a")), size(col("hs_b"))) * tau <=
        least(size(col("hs_a")), size(col("hs_b"))))
      .select(col("a"), col("b"),
        graft.functions.TextHashes.sortedJaccard(col("hs_a"), col("hs_b")).as("jaccard"))
      .filter(col("jaccard") >= tau)
      .distinct() // a pair may collide in several bands
  }

  /** All ordered within-bucket pairs (a < b) sharing `keys`, each
    * payload column riding along as `<p>_a` / `<p>_b`.
    *
    * Scale guard: a degenerate bucket key (the empty document, an
    * all-zero sign code, a biased fingerprint chunk) pairs its bucket
    * quadratically on ONE reducer. Rather than truncating hot buckets
    * (partial recall), buckets larger than `maxBucket` are SPLIT into
    * m = ceil(n/maxBucket) id-ordered sub-buckets and rows pair across
    * every ordered split combination: a row in split s joins as the
    * LEFT side of tasks (s, s..m-1) and as the RIGHT side of tasks
    * (0..s, s). Splits are id-ordered, so a pair (x < y) lands in
    * EXACTLY the task (split(x), split(y)) — FULL recall, no
    * duplicates, and every join task is bounded by maxBucket rows per
    * side. The hot bucket's m(m+1)/2 sub-tasks spread across the
    * cluster instead of serializing on one straggler reducer; the
    * candidate-pair total is unchanged (it's inherent to the bucket
    * key), only the per-task bound and the replication factor
    * (m+1 rows per hot-bucket row) are new.
    */
  private[dedup] def bucketPairs(
      df: DataFrame,
      keys: Seq[String],
      maxBucket: Int,
      payloads: Seq[String],
      idCol: String = "doc_id"): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    require(df.columns.contains(idCol),
      s"bucketPairs orders buckets by '$idCol', absent from ${df.columns.mkString(",")}")
    val (left, right) =
      if (maxBucket == Int.MaxValue) {
        // no splitting: one (0, 0) task per bucket. barrier so both
        // join branches share one materialization of the upstream.
        val z = barrier(df.withColumn("__sa", lit(0)).withColumn("__sb", lit(0)))
        (z, z)
      } else {
        val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(idCol))
        val wAll = Window.partitionBy(keys.map(col): _*)
        val base = barrier(df
          .withColumn("__s", ((row_number().over(wOrd) - 1) / maxBucket).cast("int"))
          .withColumn("__m", ceil(count(lit(1)).over(wAll) / lit(maxBucket.toDouble))
            .cast("int")))
        (base
           .withColumn("__sa", col("__s"))
           .withColumn("__sb", explode(sequence(col("__s"), col("__m") - 1)))
           .drop("__s", "__m"),
         base
           .withColumn("__sb", col("__s"))
           .withColumn("__sa", explode(sequence(lit(0), col("__s"))))
           .drop("__s", "__m"))
      }
    val jk = keys ++ Seq("__sa", "__sb")
    def side(d: DataFrame, id: String, suffix: String): DataFrame =
      d.select(jk.map(col) ++
        (col(idCol).as(id) +: payloads.map(p => col(p).as(s"${p}_$suffix"))): _*)
    side(left, "a", "a").join(side(right, "b", "b"), jk)
      .filter(col("a") < col("b"))
      .drop(jk: _*)
  }

  // ----------------------------------------------------------------
  // SimHash — q24
  // ----------------------------------------------------------------

  /** Near-duplicate pairs with Hamming distance ≤ `maxHamming`
    * between the oracle-computable SimHash fingerprints
    * (`TextHashes.simhashPoly64`), found via the chunk pigeonhole
    * (Manku/Jain/Sarma WWW'07): split the 64-bit fingerprint (its
    * top 4 bits are always 0) into `maxHamming + 1` chunks — any pair
    * within distance d must agree on ≥ 1 chunk — bucket on
    * (chunk_id, chunk_val), verify with bit_count(xor). As in the
    * paper's multiple permuted tables, a second, bit-rotated chunking
    * widens recall for pairs whose flipped bits straddle the first
    * table's chunk boundaries (candidate generation only — the
    * hamming filter stays exact).
    */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 100): DataFrame = {
    val chunks = maxHamming + 1
    require(64 % chunks == 0, s"64 bits not divisible into $chunks chunks")
    val width = 64 / chunks
    val mask = if (width == 64) -1L else (1L << width) - 1

    val fps = barrier(docs.select(col(idCol).as("doc_id"),
      graft.functions.TextHashes.simhashPoly64(col(textCol)).as("fp")))
    // second table: fingerprint rotated by half a chunk
    val rot = width / 2
    val rotated =
      if (rot == 0) col("fp")
      else shiftrightunsigned(col("fp"), rot)
        .bitwiseOR(shiftleft(col("fp"), 64 - rot))
    val chunked = fps.select(col("doc_id"), col("fp"),
      explode(array(
        Seq.tabulate(chunks) { i =>
          struct(lit(i).as("chunk_id"),
            shiftright(col("fp"), i * width).bitwiseAND(lit(mask)).as("chunk_val"))
        } ++
        Seq.tabulate(if (rot == 0) 0 else chunks) { i =>
          struct(lit(chunks + i).as("chunk_id"),
            shiftright(rotated, i * width).bitwiseAND(lit(mask)).as("chunk_val"))
        }: _*)).as("c"))
      .select(col("doc_id"), col("fp"), col("c.chunk_id"), col("c.chunk_val"))

    bucketPairs(chunked, Seq("chunk_id", "chunk_val"), maxBucket, Seq("fp"))
      .select(col("a"), col("b"),
        expr("bit_count(fp_a ^ fp_b)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ----------------------------------------------------------------
  // n-gram Jaccard via prefix filtering — q25
  // ----------------------------------------------------------------

  /** Exact set-similarity self-join at Jaccard ≥ tau using PREFIX
    * FILTERING (SSJoin/AllPairs/PPJoin): order every doc's gram set
    * by ascending document frequency (any global total order is
    * exact — no false negatives by the prefix-filter theorem;
    * RARE-FIRST is what keeps candidate buckets small, since common
    * grams then land in the non-joined suffix), keep only the first
    * |S| - ceil(tau·|S|) + 1 grams, join on shared prefix grams,
    * and verify candidates with exact Jaccard.
    *
    * Cost: one explode+groupBy for the df table, one join to rank,
    * one groupBy to rebuild sorted sets, then bucket-keyed pairing —
    * all linear in Σ|prefix|; never all-pairs.
    */
  def ngramJaccard(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      tau: Double = 0.8,
      maxBucket: Int = 200): DataFrame = {
    // word n-grams: their df distribution is Zipf-sparse (median
    // df ≈ 1 here), so rare-first prefixes stay in small buckets
    val base = barrier(docs.select(col(idCol).as("doc_id"),
      graft.functions.TextHashes.wordShingleHashes(col(textCol), n)
        .as("hs")))
    val exploded = base.select(col("doc_id"), explode(col("hs")).as("gram"))
    // document frequency via ONE partial-aggregated groupBy + join-
    // back: a window over partitionBy(gram) would serialize the
    // Zipf-head gram's rows through one reducer (the named 100×
    // straggler), but a count groupBy is decomposable — map-side
    // partial aggregation already collapses the hot gram to ≤ one
    // row per map task before the exchange, so the r13 salted
    // two-phase variant's second shuffle bought no additional skew
    // safety (guide §2.3 "aggregate before you shuffle"; measured
    // −1 Exchange on the whole q25 chain, r14). The join-back is a
    // shuffle join AQE can skew-split. `exploded` re-derives from
    // the barrier'd sketch, so the gram extraction still runs once.
    val gramDf = exploded.groupBy("gram").agg(count(lit(1)).as("df"))
    val withDf = exploded.join(gramDf, "gram")
    // rebuild each doc's set sorted by (df asc, gram) — the global
    // order — and re-derive the hash-sorted set from the same rows,
    // so no join back to `base` is needed
    val sorted = withDf
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("gram")))).as("sorted"))
      .select(col("doc_id"),
        array_sort(transform(col("sorted"), g => g.getField("gram"))).as("hs"),
        slice(col("sorted"), lit(1),
          greatest(size(col("sorted"))
            - ceil(lit(tau) * size(col("sorted"))).cast("int") + 1, lit(1)))
          .as("pref"))
    // posexplode (r15b): the gram's position in the doc's global
    // (df asc, gram) order rides along — it feeds the PPJoin
    // positional filter in verifiedBucketPairs. The df ≥ 2 filter
    // comes AFTER, so positions stay the true prefix offsets.
    val prefix = sorted.select(col("doc_id"), col("hs"),
      posexplode(col("pref")).as(Seq("pos", "g")))
      // df ≥ 2 prune (r15, guide §2.3 — shuffle fewer bytes): a gram
      // with corpus document frequency 1 lives in exactly one doc, so
      // its bucket holds one row and can never emit a pair — dropping
      // it here is recall-neutral by construction. Word n-grams are
      // Zipf-sparse (median df = 1 on this corpus), so the bulk of
      // the prefix table — each row carrying the doc's FULL hashed
      // set — vanishes before the window + self-join in bucketPairs.
      // df already rides in the pref structs; the filter is free.
      .filter(col("g.df") >= 2)
      .select(col("doc_id"), col("hs"), col("pos"),
        col("g.gram").as("gram"))
    verifiedBucketPairs(prefix, Seq("gram"), tau, maxBucket,
      withPos = true)
  }

  // ----------------------------------------------------------------
  // benchmark decontamination — q64
  // ----------------------------------------------------------------

  /** Train→eval contamination: train docs sharing ≥ `minShared`
    * DISTINCT word n-grams with an eval/benchmark doc. The eval side
    * is explicitly broadcast (benchmark suites are tiny next to a
    * training corpus), so the check is one broadcast-hash join keyed
    * on gram hash over the streamed train side — an inverted-index
    * probe, never |train| × |eval|. Returns (train_id, eval_id,
    * n_shared).
    */
  def contamination(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minShared: Int = 1): DataFrame = {
    def grams(df: DataFrame, as: String): DataFrame =
      df.select(col(idCol).as(as),
        explode(graft.functions.TextHashes.wordShingleHashes(col(textCol), n))
          .as("gram"))
    grams(train, "train_id")
      .join(broadcast(grams(eval, "eval_id")), "gram")
      // wordShingleHashes emits DISTINCT grams per doc, so the join
      // row count per (train, eval) IS the intersection size
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Per-train-doc contamination REPORT (the GPT-3-appendix audit
    * shape): for every train doc WITH NON-NULL TEXT (null-text rows
    * produce no grams and are absent from the report — filter or
    * coalesce upstream if full-coverage denominators matter), the
    * fraction of its DISTINCT word
    * n-grams that appear ANYWHERE in the benchmark set — the
    * distribution you inspect to pick `contamination`'s drop
    * threshold, and the per-doc score a "dirty above X%" audit
    * publishes. `contamination` answers "which (train, eval) pairs
    * overlap ≥ k grams"; this answers "HOW contaminated is each
    * train doc overall".
    *
    * Same 100 TB shape as `contamination`: the benchmark's distinct
    * gram set is broadcast (benchmarks are tiny next to a corpus),
    * the train side streams through one broadcast left join tagged
    * hit/miss, and the per-doc rollup is a partial-aggregatable
    * groupBy on the doc id. Fraction is rounded to 9dp so the ratio
    * is engine-stable.
    */
  /** Asymmetric set containment — quote/subset detection, the
    * directional sibling of [[ngramJaccard]] (a short doc quoted
    * verbatim inside a long one scores high containment but LOW
    * Jaccard, so a symmetric threshold never finds it; RefinedWeb /
    * exact-substring pipelines hunt exactly this shape). Finds
    * (corpus doc, probe doc) pairs where the probe's distinct word
    * n-gram set is ≥ tauPct% contained in the corpus doc's:
    *
    *   C(P, D) = |grams(P) ∩ grams(D)| / |grams(P)|
    *
    * Exactness: intersection sizes are integer join-row counts
    * (wordShingleHashes emits distinct grams per doc); the threshold
    * compares 100·|∩| ≥ tauPct·|P| in integers — no float knife
    * edges — and the reported containment is one exact int/int
    * division (the q25 unrounded discipline).
    *
    * Scale shape: the probe side (quote set / eval suite) is the
    * SMALL side and broadcasts as an inverted gram index (the
    * [[contamination]] shape); the corpus streams through one
    * broadcast-hash join keyed on gram hash + one pair groupBy.
    * Never |corpus| × |probes|.
    */
  def containment(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      tauPct: Int = 70,
      minShared: Int = 3): DataFrame = {
    require(tauPct >= 1 && tauPct <= 100, s"tauPct in 1..100: $tauPct")
    def grams(df: DataFrame, as: String): DataFrame =
      df.select(col(idCol).as(as),
        explode(graft.functions.TextHashes.wordShingleHashes(col(textCol), n))
          .as("gram"))
    val probeSizes = probes.select(col(idCol).as("probe_id"),
      size(graft.functions.TextHashes.wordShingleHashes(col(textCol), n))
        .cast("long").as("n_probe"))
    grams(corpus, "corpus_id")
      .join(broadcast(grams(probes, "probe_id")), "gram")
      .groupBy("corpus_id", "probe_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(broadcast(probeSizes), "probe_id")
      .filter(col("n_shared") * 100 >= col("n_probe") * tauPct)
      .select(col("corpus_id"), col("probe_id"), col("n_shared"),
        col("n_probe"),
        (col("n_shared").cast("double") / col("n_probe"))
          .as("containment"))
  }

  def contaminationReport(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    import graft.functions.TextHashes.wordShingleHashes
    val evalGrams = eval
      .select(explode(wordShingleHashes(col(textCol), n)).as("gram"))
      .distinct()
      .withColumn("_hit", lit(1))
    train
      .select(col(idCol),
        explode(wordShingleHashes(col(textCol), n)).as("gram"))
      .join(broadcast(evalGrams), Seq("gram"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        count(col("_hit")).as("n_matched"))
      .withColumn("frac_contaminated",
        round(col("n_matched").cast("double") / col("n_grams"), 9))
  }

  /** Repeated-substring exposure report (the doc-level shape of Lee
    * et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better" — exact substring dedup asks "which spans repeat
    * verbatim across the corpus"; this reports, per doc, the fraction
    * of its distinct word n-grams already OWNED by an earlier doc,
    * where the owner of a gram is the min doc id containing it).
    * Filter on `frac_repeated` to drop heavily-recycled docs, or feed
    * the distribution to pick the threshold (q129's decontamination
    * analogue, pointed at the corpus itself).
    *
    * NOT q129's broadcast shape: the gram-owner side is CORPUS-sized,
    * so this is the big-big join (q137's precedent) — both sides are
    * (8-byte gram hash, id) pairs, gram text never shuffles. The
    * owner aggregate is partial-aggregatable min (the Zipf-head gram
    * combines map-side); the join-back is a plain hash join AQE can
    * skew-split; the rollup partial-aggregates per doc.
    */
  def repeatedGramReport(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    import graft.functions.TextHashes.wordShingleHashes
    // barrier: the exploded grams feed both the owner aggregate and
    // the join-back — one tokenize+hash pass, not two
    val grams = barrier(docs.select(col(idCol).as("doc_id"),
      explode(wordShingleHashes(col(textCol), n)).as("gram")))
    val owners = grams.groupBy("gram").agg(min(col("doc_id")).as("owner"))
    grams.join(owners, Seq("gram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("owner") < col("doc_id"), 1)).as("n_seen"))
      .withColumn("frac_repeated",
        round(col("n_seen").cast("double") / col("n_grams"), 9))
  }

  // ----------------------------------------------------------------
  // duplicate clusters — q38
  // ----------------------------------------------------------------

  /** Connected components over a near-dup pair list: every member of
    * a transitive duplicate cluster gets the cluster's MIN doc id as
    * its label (the canonical survivor).
    *
    * Alternating LARGE-STAR / SMALL-STAR (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14):
    *  - large-star(u): every strictly-larger neighbor of u re-links
    *    to min(Γ(u) ∪ {u})
    *  - small-star(u): u and its smaller neighbors re-link to
    *    min(Γ⁻(u) ∪ {u})
    * Each round is two groupBy+join passes over the edge list (keyed
    * shuffles only) and the edge set contracts toward a star forest
    * in O(log n) rounds — unlike one-hop min-label propagation, a
    * pathological long-chain component converges logarithmically,
    * not in O(diameter). Rounds are cut with `barrier` so the plan
    * doesn't grow; convergence is detected by an order-independent
    * (count, Σ xxhash64(a,b)) signature of the edge set.
    *
    * Returns (doc_id, cluster_id) for every doc that appears in a
    * pair; `cluster_id == doc_id` marks the survivor. Docs with no
    * pairs are implicitly their own singleton cluster.
    */
  def clusters(pairs: DataFrame, maxIters: Int = 15): DataFrame = {
    // barrier FIRST: nodes and every contraction round fan out from
    // the materialized edge list, so an expensive upstream pair
    // pipeline executes exactly once. `nodes` and the self-loop
    // filter stay LAZY — they are cheap re-derivations of the
    // checkpointed pair list, and a barrier on each would pay a
    // full materialization job for nothing.
    val initial = barrier(pairs.select(col("a"), col("b")).distinct())
    val nodes = initial.select(col("a").as("id"))
      .unionByName(initial.select(col("b").as("id"))).distinct()
    var edges = initial.filter(col("a") =!= col("b"))

    def symmetric(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("b").as("a"), col("a").as("b")))

    // every neighbor v > u links to m = min(Γ(u) ∪ {u}). No distinct
    // here (r14, guide §2.4): smallStar immediately re-aggregates and
    // ends the round with its own distinct, so the mid-round exchange
    // bought nothing — duplicate multiplicity is degree-bounded for
    // one round and min/groupBy results are multiplicity-blind.
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = symmetric(e)
      val mins = nbrs.groupBy("a").agg(min(col("b")).as("mb"))
      nbrs.join(mins, "a")
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), least(col("a"), col("mb")).as("b"))
        .filter(col("a") =!= col("b"))
    }

    // u and its smaller neighbors link to m = min(Γ⁻(u) ∪ {u})
    def smallStar(e: DataFrame): DataFrame = {
      val smaller = symmetric(e).filter(col("b") < col("a"))
      val mins = smaller.groupBy("a").agg(min(col("b")).as("mb"))
      val relinked = smaller.join(mins, "a")
        .select(col("b").as("a"), col("mb").as("b"))
      relinked.unionByName(mins.select(col("a"), col("mb").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
    }

    def signature(e: DataFrame): (Long, Long) = {
      // bit_xor: order-independent and overflow-free under ANSI mode.
      // CANONICAL (undirected) edge hash since r14: both star ops
      // symmetrize their input first, so the next iterate is a
      // deterministic function of the UNDIRECTED edge set — when only
      // edge orientation flips between rounds (the star-forest
      // steady state), the directed signature needed one more
      // confirming round (≈7 stages) to observe the identical set.
      // Undirected equality implies the current iterate already IS
      // the directed fixpoint, so exiting here returns the same
      // edges the extra round would.
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(least(a, b), greatest(a, b)))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var sig = signature(edges)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      // mid-round barrier (r15): smallStar consumes its input TWICE
      // (the min aggregate and the relink join both derive from
      // `smaller`), so without a cut the largeStar groupBy+join
      // pipeline executed twice per round — the checkpoint
      // materializes it once and both branches read the cached rows
      // (guide §2.4: a recomputed subtree is a removable shuffle)
      edges = barrier(smallStar(barrier(largeStar(edges))))
      val next = signature(edges)
      converged = next == sig
      sig = next
      iter += 1
    }
    // star forest: every non-root points at its component's min; the
    // min(b) guards a not-yet-fully-converged maxIters exit
    val links = edges.groupBy(col("a").as("id")).agg(min(col("b")).as("root"))
    nodes.join(links, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("root"), col("id")).as("cluster_id"))
  }

  /** Apply a cluster resolution to the corpus: drop every member
    * that is not its cluster's survivor (`cluster_id == doc_id`),
    * keep everything unpaired. The drop list is a LEFT-ANTI join
    * against only the non-survivor assignments — at 100 TB the
    * corpus streams once and the anti side is proportional to the
    * duplicates found, not to the corpus (AQE broadcasts it when it
    * fits). This is the end-to-end "dedup my corpus" action: pairs →
    * `clusters` → `applyClusters` → cleaned corpus.
    */
  def applyClusters(docs: DataFrame, clusters: DataFrame,
      idCol: String): DataFrame =
    docs.join(
      clusters.filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as(idCol)),
      Seq(idCol), "left_anti")

  // ----------------------------------------------------------------
  // embedding-cosine near-dup — q26
  // ----------------------------------------------------------------

  /** Cosine ≥ tau pairs through random-hyperplane LSH buckets:
    * `bits`-bit sign code, split into `bands` (OR-amplified), exact
    * cosine verification on bucket-mates only.
    */
  def embeddingPairs(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double = 0.95,
      bits: Int = 16,
      bands: Int = 2,
      dim: Int = 64,
      maxBucket: Int = 200): DataFrame = {
    val planes = VectorOps.hyperplanes(bits, dim)
    val sketch = barrier(vecs.select(col(idCol).as("doc_id"), col(vecCol).as("v"),
      VectorOps.codeBands(
        graft.functions.VectorColumns.signCode(col(vecCol), planes), bits, bands).as("bands")))
    val coded = sketch.select(col("doc_id"), col("v"), explode(col("bands")).as("b"))
      .select(col("doc_id"), col("v"), col("b.band_id"), col("b.band_val"))

    bucketPairs(coded, Seq("band_id", "band_val"), maxBucket, Seq("v"))
      // same rounding discipline as verifiedBucketPairs: threshold
      // AND report the raw cosine — the sequential-double loop is
      // bit-reproducible cross-engine (q27's oracle recomputes it),
      // while round()'s half-way behavior is engine-specific
      .select(col("a"), col("b"),
        graft.functions.VectorColumns.cosine(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= tau)
      .distinct()
  }

  // ----------------------------------------------------------------
  // SemDeDup — semantic dedup through k-means cluster partitions
  // ----------------------------------------------------------------

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — the LAION/LLM
    * curation recipe): partition the corpus by nearest-centroid
    * assignment, then inside each cluster drop every vector whose
    * cosine to a SMALLER-id cluster-mate reaches `tau` (the
    * deterministic keep-one-per-ε-ball rule; the paper keeps an
    * arbitrary representative, we pin min-id like q22/q23).
    *
    * Scale shape: assignment is one codegen'd scan expression against
    * k driver-literal centroids (`VectorColumns.nearestCentroid` —
    * ann/KMeans's primitive, k·dim scalars on the driver); candidate
    * pairs come from the same split-capped bucket join as q23/q26
    * (`bucketPairs` keyed on the cluster id), so a degenerate cluster
    * spreads over bounded sub-bucket tasks instead of one reducer;
    * the verdict join's build side is ∝ duplicates found. Cross-
    * cluster near-dups are out of contract BY DESIGN — that is
    * SemDeDup's approximation: k grows with the corpus so clusters
    * stay bounded and the within-cluster join is O(Σ cᵢ²/maxBucket)
    * tasks, never corpus².
    *
    * `probe2 = true` closes the known recall hole at CELL BOUNDARIES
    * (a near-identical pair whose members fall on opposite sides of
    * a centroid bisector never meets within one cluster): each
    * vector also enters its SECOND-nearest centroid's bucket, so a
    * straddling pair meets in the union of the probes. Pair volume
    * at most 4× (2 buckets per side), bucket discipline unchanged;
    * the survival CONTRACT stays within-primary-cluster semantics
    * unless probing is on (q163's oracle pins the 1-probe contract).
    *
    * @param centroids k driver-side vectors (e.g. `KMeans.initCentroids`
    *                  or the converged means of repeated `lloydStep`s).
    * @return (doc_id, cl, kept) — the full assignment (cl = PRIMARY
    *         cluster, also under probe2) with the survival verdict;
    *         filter on `kept` to apply.
    */
  def semantic(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Seq[Double]],
      tau: Double,
      maxBucket: Int = 200,
      probe2: Boolean = false): DataFrame = {
    // barrier: the assignment feeds both the pair join (twice, as the
    // self-join's two branches) and the verdict join — one scan.
    val probeCols = Seq(col(idCol).as("doc_id"), col(vecCol).as("v"),
      graft.functions.VectorColumns.nearestCentroid(col(vecCol), centroids)
        .as("cl")) ++ (if (probe2)
        Seq(graft.functions.VectorColumns.secondNearestCentroid(col(vecCol),
          centroids).as("cl2")) else Nil)
    val assigned = barrier(vecs.select(probeCols: _*))
    // 2-probe: each vector sits in {nearest, second-nearest} buckets;
    // array_distinct guards k=1 (cl2 degenerates to cl). A pair
    // meeting in both shared buckets dedups in the drops DISTINCT.
    val bucketed =
      if (!probe2) assigned
      else assigned.select(col("doc_id"), col("v"),
        explode(array_distinct(array(col("cl"), col("cl2")))).as("cl"))
    val drops = bucketPairs(bucketed, Seq("cl"), maxBucket, Seq("v"))
      .filter(graft.functions.VectorColumns.cosine(col("v_a"), col("v_b"))
        >= tau)
      .select(col("b").as("doc_id")).distinct()
    assigned.select(col("doc_id"), col("cl"))
      .join(drops.withColumn("kept", lit(false)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("cl"),
        coalesce(col("kept"), lit(true)).as("kept"))
  }
}
