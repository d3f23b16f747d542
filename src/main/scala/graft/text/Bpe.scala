package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.Plans

/** Distributed byte-pair-encoding vocabulary training (Sennrich et
  * al. 2016, "Neural Machine Translation of Rare Words with Subword
  * Units" — the tokenizer-building step of every LLM data pipeline;
  * reference anchor: the token-counting config the warehouse models
  * expose, datanika-core dbt_project.py's token metrics).
  *
  * Scale shape: the 100 TB corpus is touched EXACTLY ONCE — a single
  * map-side-combined (word, count) aggregation. Every merge
  * iteration then runs on the aggregated word table, whose size is
  * the corpus VOCABULARY (Zipf-bounded, millions of rows at any
  * corpus scale, never corpus-sized). [[train]] collects that table
  * in one bounded job and runs the merges in driver memory; only a
  * vocabulary above the driver bound trains distributed, where one
  * pair-count pass commits a whole provably-serial-equal batch of
  * symbol-disjoint merges. At production merge counts (30k)
  * [[applyMerges]]'s chunked encode bounds any single projection's
  * replace depth.
  *
  * Exactness: symbol sequences are strings with TWO-space
  * separators, padded two spaces each end ("  c  a  t  "). A merge
  * of (a,b) is the literal replace " a  b " → " ab " — because each
  * boundary keeps one space outside the match, adjacent occurrences
  * stay matchable and `replace`'s left-to-right non-overlapping scan
  * IS BPE's greedy merge order, identically in Spark and DuckDB.
  * Ties on pair count break (count DESC, lhs, rhs) — total order,
  * cross-engine deterministic. Words are lowercased and restricted
  * to ^[a-z]+$ so the separator/marker alphabet never collides.
  */
object Bpe {

  final case class Merge(iter: Int, lhs: String, rhs: String, cnt: Long)

  /** (word, cnt) table from a document corpus: the one corpus-sized
    * pass. Single-space split — the driver corpus is single-space
    * tokenized (q31/q42's proven chain).
    */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Initial symbol string: every char followed by two spaces, two
    * leading spaces — "cat" → "  c  a  t  ".
    */
  def symbolize(word: Column): Column =
    concat(lit("  "), regexp_replace(word, "(.)", "$1  "))

  private def pairCounts(words: DataFrame): DataFrame =
    words
      .select(col("cnt"),
        expr("filter(split(sym, '  '), x -> x != '')").as("syms"))
      .filter(size(col("syms")) >= 2)
      .select(col("cnt"), expr(
        "explode(transform(sequence(0, size(syms) - 2), " +
          "i -> struct(syms[i] AS lhs, syms[i + 1] AS rhs)))").as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum("cnt").as("c"))

  /** Vocabulary size up to which [[train]] collects the (word, cnt)
    * table and trains in driver memory: 8M rows is under 1 GB on a
    * driver sized for a 1000-executor cluster. */
  private val CollectThreshold = 8000000
  /** Pair counts one distributed pass fetches ([[trainBatched]]). */
  private val ScanWidth = 4096
  /** Committed merges between plan barriers on the distributed path. */
  private val CheckpointInterval = 64

  /** Learn `nMerges` merges of serial BPE: each merge is the argmax
    * pair in (count DESC, lhs, rhs) order over the current word
    * table. Returns the merge table (iter, lhs, rhs, cnt), nMerges
    * driver-side rows by construction, fewer if the corpus runs out
    * of pairs.
    *
    * The (word, cnt) table is VOCABULARY-sized, Zipf-bounded to
    * millions of rows at ANY corpus scale, including 100 TB. ONE
    * bounded job (`limit(threshold + 1)`) both decides and fetches:
    * if the limit was not hit the table is the whole vocabulary, and
    * the serial loop runs in memory with incremental pair-count
    * updates ([[trainDriver]]), the classic trainer shape that affords
    * 30k merges. A vocabulary above the 8M-row driver bound trains on
    * the distributed batched path ([[trainBatched]]). Both halves emit
    * the same merge sequence (pinned in BpeBatchPropertySpec and
    * BpeSpec against a serial simulator), so the choice is pure
    * scheduling; q338 gates the collected path against the serial
    * DuckDB CTE oracle end to end.
    */
  def train(spark: SparkSession, words: DataFrame, nMerges: Int): Seq[Merge] =
    train(spark, words, nMerges, CollectThreshold)

  /** [[train]] with the driver bound as a parameter, so a spec can
    * send a small vocabulary down the distributed half. */
  private[text] def train(spark: SparkSession, words: DataFrame,
      nMerges: Int, collectThreshold: Int): Seq[Merge] = {
    require(nMerges >= 0, s"nMerges must be >= 0, got $nMerges")
    val sample = words.select(col("word"), col("cnt").cast("long"))
      .limit(collectThreshold + 1)
      .collect()
    if (sample.length <= collectThreshold)
      trainDriver(
        sample.map(r => (r.getString(0), r.getLong(1))).toIndexedSeq,
        nMerges)
    else trainBatched(words, nMerges)
  }

  /** `word` split into its initial symbols, one per CODEPOINT —
    * mirrors [[symbolize]]'s `regexp_replace(word, "(.)", ...)`,
    * where `.` matches a full codepoint in both engines' regex. */
  private[text] def codepointSyms(w: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.result()
  }

  /** Codepoint-order string compare — equal to UTF-8 byte order and
    * therefore to BOTH engines' binary collation (Spark UTF8String,
    * DuckDB default). Java's `String.compareTo` compares UTF-16 code
    * units, which diverges when a supplementary codepoint (surrogate
    * pair, ≥ U+10000) meets a char in U+E000..U+FFFF: the surrogate
    * unit sorts LOW though the codepoint is HIGHER. Neither library
    * word source emits such symbols (wordCounts is [a-z]+,
    * byteWordCounts maps into ≤ U+0143), but [[trainDriver]]'s tie
    * order must match [[trainBatched]] and the DuckDB oracle on ANY
    * input.
    */
  private[text] def cpCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** Greedy left-to-right non-overlapping fuse of adjacent (l, r) —
    * the token-sequence statement of the two-space string replace
    * (pinned equivalent by BpeSpec's 'aaa' case: " l  r " keeps one
    * boundary space outside the match, so `replace`'s left-to-right
    * scan fuses exactly these positions). Returns `syms` itself when
    * nothing fused (identity lets callers skip the count update). */
  private[text] def fuseLeftToRight(syms: Array[String], l: String,
      r: String): Array[String] = {
    var i = 0
    var hit = false
    while (!hit && i < syms.length - 1) {
      if (syms(i) == l && syms(i + 1) == r) hit = true else i += 1
    }
    if (!hit) syms
    else {
      val b = Array.newBuilder[String]
      var j = 0
      while (j < syms.length) {
        if (j + 1 < syms.length && syms(j) == l && syms(j + 1) == r) {
          b += l + r; j += 2
        } else { b += syms(j); j += 1 }
      }
      b.result()
    }
  }

  /** Driver-resident EXACT serial BPE over a collected (word, cnt)
    * table — [[train]]'s half for a vocabulary under the driver
    * bound. One pass builds the weighted adjacent-pair multiset
    * counts and a pair → containing-words index; each merge then
    * touches ONLY the words containing the elected pair (classic
    * trainer shape), applying exact count deltas. The argmax is a
    * lazy max-heap in the serial tie order (count DESC, lhs, rhs):
    * stale entries (count changed since push) are discarded on pop,
    * every count change pushes a fresh entry, so the head is always
    * the true argmax. Counts of existing pairs can also INCREASE
    * (the string-conflation corner where a fusion re-creates an
    * existing symbol string) — handled naturally, because deltas are
    * recomputed from the affected words, not assumed monotone.
    *
    * Cost: init O(Σ word length); per merge O(affected words × their
    * length + log #pairs). 30k merges over a million-word vocabulary
    * is seconds-to-minutes, vs hundreds to thousands of Spark jobs
    * for [[trainBatched]].
    */
  private[text] def trainDriver(words: IndexedSeq[(String, Long)], nMerges: Int)
      : Seq[Merge] = {
    require(nMerges >= 0, s"nMerges must be >= 0, got $nMerges")
    // positive counts are the contract (wordCounts/byteWordCounts
    // can only emit them): a zero-count word would hold adjacencies
    // that the count map legitimately drops at zero, breaking the
    // index invariants — and a serial argmax would happily ELECT a
    // count-0 pair, which is semantically meaningless. Fail loudly.
    require(words.forall(_._2 > 0L),
      "trainDriver requires strictly positive word counts")
    import scala.collection.mutable
    val wsyms = new Array[Array[String]](words.length)
    val cnts = new Array[Long](words.length)
    val counts = mutable.HashMap.empty[(String, String), Long]
    val occ = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    final case class Entry(c: Long, lhs: String, rhs: String)
    val heap = new java.util.PriorityQueue[Entry](
      math.max(words.length, 16),
      new java.util.Comparator[Entry] {
        def compare(a: Entry, b: Entry): Int = {
          val c = java.lang.Long.compare(b.c, a.c) // count DESC
          if (c != 0) c
          else {
            // (lhs, rhs) ASC in CODEPOINT order — the engines' binary
            // collation, not Java's UTF-16 unit order (see cpCompare)
            val l = cpCompare(a.lhs, b.lhs)
            if (l != 0) l else cpCompare(a.rhs, b.rhs)
          }
        }
      })
    var i = 0
    while (i < words.length) {
      val (w, c) = words(i)
      wsyms(i) = codepointSyms(w)
      cnts(i) = c
      val s = wsyms(i)
      var j = 0
      while (j < s.length - 1) {
        val k = (s(j), s(j + 1))
        counts.update(k, counts.getOrElse(k, 0L) + c)
        occ.getOrElseUpdate(k, mutable.HashSet.empty) += i
        j += 1
      }
      i += 1
    }
    counts.foreach { case ((l, r), c) => heap.add(Entry(c, l, r)) }
    val out = Seq.newBuilder[Merge]
    var k = 0
    var stop = false
    while (k < nMerges && !stop) {
      // pop to the first LIVE entry: count matches the current map
      var head: Entry = null
      while (head == null && !heap.isEmpty) {
        val e = heap.poll()
        if (counts.getOrElse((e.lhs, e.rhs), 0L) == e.c && e.c > 0L)
          head = e
      }
      if (head == null) stop = true // corpus exhausted (all words fused)
      else {
        k += 1
        out += Merge(k, head.lhs, head.rhs, head.c)
        val key = (head.lhs, head.rhs)
        val affected = occ.getOrElse(key, mutable.HashSet.empty).toArray
        val changed = mutable.HashSet.empty[(String, String)]
        affected.foreach { wi =>
          val old = wsyms(wi)
          val neu = fuseLeftToRight(old, head.lhs, head.rhs)
          if (neu ne old) {
            val c = cnts(wi)
            var j = 0
            while (j < old.length - 1) {
              val p = (old(j), old(j + 1))
              counts.update(p, counts.getOrElse(p, 0L) - c)
              changed += p
              j += 1
            }
            j = 0
            while (j < neu.length - 1) {
              val p = (neu(j), neu(j + 1))
              counts.update(p, counts.getOrElse(p, 0L) + c)
              changed += p
              j += 1
            }
            // occ: exact membership — drop pairs the word no longer
            // contains, add the ones it now does
            val oldSet = old.indices.dropRight(1)
              .map(x => (old(x), old(x + 1))).toSet
            val newSet = neu.indices.dropRight(1)
              .map(x => (neu(x), neu(x + 1))).toSet
            (oldSet diff newSet).foreach(p => occ.get(p).foreach(_ -= wi))
            (newSet diff oldSet).foreach(p =>
              occ.getOrElseUpdate(p, mutable.HashSet.empty) += wi)
            wsyms(wi) = neu
          }
        }
        changed.foreach { p =>
          val c = counts.getOrElse(p, 0L)
          if (c <= 0L) { counts.remove(p); occ.remove(p) }
          else heap.add(Entry(c, p._1, p._2))
        }
      }
    }
    out.result()
  }

  /** One pass's batch selection — the entire accept rule (greedy
    * symbol-disjoint scan under the running threat, the late-tie
    * FIXPOINT, the string-conflation guard, and the serial-argmax
    * fallback) as a PURE function of the scanned snapshot, so the
    * logic the serial-equality proof hangs on is property-testable
    * against an in-memory serial simulator at thousands of random
    * corpora per second (BpeBatchPropertySpec), not just at Spark-job granularity.
    * `scanned` must be the snapshot's pair counts in serial tie-order
    * (c DESC, lhs, rhs), truncated to the scan width; `tailBound` is
    * the count bound on unscanned pairs (0 when fully scanned);
    * `knownFusion` answers whether a fused string already names an
    * existing symbol (the committed-merge history).
    */
  private[text] def selectBatch(
      scanned: IndexedSeq[(String, String, Long)],
      tailBound: Long,
      knownFusion: String => Boolean): Vector[(String, String, Long)] = {
    var used = Set.empty[String]
    var threat = tailBound
    var halted = false
    val batchFused = scala.collection.mutable.HashSet.empty[String]
    val greedy = Vector.newBuilder[(String, String, Long)]
    for (p @ (l, r, c) <- scanned.iterator if !halted) {
      if (used(l) || used(r)) threat = math.max(threat, c)
      else if (c > threat) {
        greedy += p; used = used + l + r
        // conflation guard (see trainBatched scaladoc): a fusion
        // aliasing an existing symbol ends the batch HERE — this
        // accept's own snapshot count is still exact, nothing after
        // it may rely on post-merge counts
        val fused = l + r
        if (knownFusion(fused) || !batchFused.add(fused)) halted = true
      } else halted = true
    }
    var batch = greedy.result()
    // fixpoint vs late ties: a sharing pair scanned AFTER an accept
    // can tie its count — every accept must STRICTLY dominate every
    // sharing pair anywhere in the snapshot
    var stable = false
    while (!stable) {
      val u = batch.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
      val keys = batch.map(p => (p._1, p._2)).toSet
      val th = scanned.iterator
        .filter(p => !keys((p._1, p._2)) && (u(p._1) || u(p._2)))
        .map(_._3).foldLeft(tailBound)(math.max)
      val kept = batch.takeWhile(_._3 > th)
      stable = kept.length == batch.length
      batch = kept
    }
    // nothing cleared the bound: fall back to serial's argmax
    // (always correct — it is the global maximum by tie-order)
    if (batch.isEmpty) Vector(scanned.head) else batch
  }

  /** [[train]]'s distributed half, for vocabularies above the driver
    * bound: one pair-count pass (one Spark job) safely commits MANY
    * merges, so a 30k-merge tokenizer costs O(hundreds–thousands) of
    * jobs instead of 30k. Returns EXACTLY serial BPE's merge
    * sequence — batching is a pure scheduling optimization,
    * spec-pinned equal on fixtures engineered to diverge under
    * naive top-B batching.
    *
    * Why the accepted batch IS serial's next |batch| picks, in
    * order — scan the snapshot's pair counts in serial tie-order
    * (c DESC, lhs, rhs), greedily accepting pairs SYMBOL-DISJOINT
    * from every prior accept:
    *  1. a merge never changes the count of a pair disjoint from it
    *     (counts move only through occurrences sharing a position,
    *     and only pairs sharing a symbol can overlap), so every
    *     accepted pair's snapshot count stays EXACT while earlier
    *     batch merges apply;
    *  2. a merge only CREATES pairs containing its fused symbol,
    *     and each new pair (x, ab) / (ab, y) occurs at most as
    *     often as the snapshot flank pair (x, a) / (b, y) it grew
    *     from — always a pair SHARING a symbol with the accept set;
    *  3. so serial's argmax after i accepted merges is accept i+1,
    *     PROVIDED each accepted count is STRICTLY above every
    *     sharing pair's count (those bound both the decayed old
    *     pairs and the never-materialized new pairs — strictness
    *     means new-pair NAMES can never matter in a tie) and above
    *     the scan horizon (unscanned pairs bound unseen flanks at
    *     `tailBound`).
    * The sharing bound is computed to a FIXPOINT (a sharing pair
    * scanned after an accept can tie its count; truncating the
    * batch shrinks the sharing set, which can only lower the
    * bound), and when nothing clears it the pass degenerates to
    * serial's single argmax — correctness never depends on batch
    * size. Worst case (all counts tied) every pass commits one
    * merge, one job per merge.
    *
    * STRING-CONFLATION GUARD: facts 1–3 reason about symbols as
    * strings, and a merge whose fused string EQUALS an
    * already-existing symbol would alias the two — an "old" pair on
    * that symbol could then GAIN count from the merge, outside the
    * threat bound. Under this engine's fixed global merge order and
    * greedy left-to-right replace we believe every fusion string has
    * a unique derivation (the creating pair's adjacencies are fully
    * consumed at its merge, and an adjacency of two OLD symbols can
    * never re-form), making the case unreachable — but the guard is
    * O(1) and exact because the driver holds the complete merge
    * history: a pass ends its batch at any accept whose fused string
    * matches a prior fusion, falling back to serial pacing right
    * where the proof would thin.
    *
    * The replace chain stays lazy on the barriered word table and is
    * re-folded into the next pass's scan. Every [[CheckpointInterval]]
    * merges a barrier replaces the LOGICAL plan with a LogicalRDD, so
    * 30k merges never build an unbounded Project chain: a persist-only
    * cut left the analyzed plan (and every AQE explain string of it)
    * growing one Project per merge, which ran the planning JVM out of
    * heap near merge ~900 at 100k vocabulary while the executors were
    * healthy.
    */
  private[text] def trainBatched(words: DataFrame, nMerges: Int,
      scanWidth: Int = ScanWidth): Seq[Merge] = {
    var cur = Plans.barrier(
      words.select(col("cnt"), symbolize(col("word")).as("sym")))
    // every multi-char symbol in play is the fusion of a COMMITTED
    // merge (training starts from single chars), so this set is the
    // complete alphabet-of-fusions for the conflation guard
    val knownFusions = scala.collection.mutable.HashSet.empty[String]
    var sinceCkpt = 0
    val out = Seq.newBuilder[Merge]
    var k = 0
    var stop = false
    while (k < nMerges && !stop) {
      val top = pairCounts(cur)
        .orderBy(col("c").desc, col("lhs"), col("rhs"))
        .limit(scanWidth).collect()
      if (top.isEmpty) stop = true // corpus exhausted (all words fused)
      else {
        val scanned = top.map(r =>
          (r.getString(0), r.getString(1), r.getLong(2))).toIndexedSeq
        // pairs beyond the scan horizon have count <= tailBound; a
        // fully-scanned table has no horizon
        val tailBound =
          if (top.length < scanWidth) 0L else scanned.last._3
        val batch = selectBatch(scanned, tailBound, knownFusions)
        val commit = batch.take(nMerges - k)
        commit.foreach { case (l, r, c) =>
          k += 1
          out += Merge(k, l, r, c)
          knownFusions += l + r
        }
        // one folded projection applies the whole batch — replaces
        // run left-to-right in merge order, exactly serial's writes
        cur = commit.foldLeft(cur) { case (df, (l, r, _)) =>
          df.withColumn("sym",
            replace(col("sym"), lit(s" $l  $r "), lit(s" $l$r ")))
        }
        sinceCkpt += commit.length
        if (sinceCkpt >= CheckpointInterval && k < nMerges) {
          cur = Plans.barrier(cur)
          sinceCkpt = 0
        }
      }
    }
    out.result()
  }

  /** The fully-merged symbol string of `word` under a learned merge
    * list, as a pure Column: the chained replaces fold into ONE
    * codegen'd projection (merges are driver scalars — no join, no
    * shuffle; the corpus-at-inference path). For production merge
    * counts prefer [[applyMerges]], which bounds the depth of any
    * single projection — a 30k-replace expression tree is
    * codegen-hostile (method splitting, then interpreted fallback). */
  def encodedSym(word: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(symbolize(word)) { (c, m) =>
      replace(c, lit(s" ${m.lhs}  ${m.rhs} "), lit(s" ${m.lhs}${m.rhs} "))
    }

  /** Encode a word table with a learned merge list; returns
    * (cnt, sym) with sym fully merged. Merge lists longer than
    * `chunkSize` apply in bounded-depth groups with a plan barrier
    * between chunks (lazy localCheckpoint — [[graft.plans.Plans
    * .barrier]]), so no single projection folds more than
    * `chunkSize` replaces: without the cut Catalyst collapses
    * chained projections back into one unbounded expression tree
    * (VERDICT r11 item 2's encode-depth ceiling). */
  def applyMerges(words: DataFrame, merges: Seq[Merge],
      chunkSize: Int = 512): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    if (merges.lengthCompare(chunkSize) <= 0)
      words.select(col("cnt"), encodedSym(col("word"), merges).as("sym"))
    else {
      var cur = words.select(col("cnt"),
        symbolize(col("word")).as("sym"))
      merges.grouped(chunkSize).foreach { g =>
        val folded = g.foldLeft(col("sym")) { (c, m) =>
          replace(c, lit(s" ${m.lhs}  ${m.rhs} "), lit(s" ${m.lhs}${m.rhs} "))
        }
        cur = graft.plans.Plans.barrier(
          cur.select(col("cnt"), folded.as("sym")))
      }
      cur
    }
  }

  // ----------------------------------------------------------------
  // Byte-level alphabet (VERDICT r12 item 3): production tokenizers
  // are byte-level precisely so NO input is out-of-alphabet. The
  // GPT-2 byte-to-unicode trick maps each of the 256 byte values to
  // a distinct PRINTABLE BMP codepoint — visible ASCII and most of
  // Latin-1 keep themselves, everything else (control bytes, SPACE,
  // 0x7F–0xA0, 0xAD) shifts to 0x100+n — so a byte-mapped word never
  // contains the space separator and the whole two-space replace
  // machinery (train, applyMerges and the
  // generated DuckDB oracle) carries over UNCHANGED. Reference shape:
  // GPT-2's bytes_to_unicode (Radford et al. 2019, public encoder.py
  // semantics re-derived here).
  // ----------------------------------------------------------------

  /** byteAlphabet(b) = the mapped char for byte value b (0–255).
    * Injective; no entry is a space or a surrogate (max codepoint
    * 0x100 + 67 = 0x143), so byte-mapped words are safe under BOTH
    * engines' binary string order and the two-space separator. */
  val byteAlphabet: IndexedSeq[String] = {
    val keep = ((0x21 to 0x7e) ++ (0xa1 to 0xac) ++ (0xae to 0xff)).toSet
    var n = 0
    (0 until 256).map { b =>
      if (keep(b)) b.toChar.toString
      else { val c = (0x100 + n).toChar.toString; n += 1; c }
    }
  }

  /** Literal (hex-byte → mapped char) map shared by every use — the
    * [[graft.ops.Cidr]] shared-constant discipline: computed once in
    * Scala, embedded as literals in both engines. Keys are UPPERCASE
    * two-hex-digit strings, matching both engines' `hex()`. */
  private lazy val byteMapLit: Column = map(
    byteAlphabet.zipWithIndex.flatMap { case (ch, b) =>
      Seq(lit(f"$b%02X"), lit(ch))
    }: _*)

  /** `word`'s UTF-8 bytes mapped through [[byteAlphabet]], as a pure
    * codegen'd Column (no UDF): hex the UTF-8 encoding, split into
    * 2-hex-digit bytes, map each through the literal table, rejoin.
    * Injective, so it commutes with groupBy — callers count RAW
    * words first and map only the vocabulary-sized distinct table.
    */
  def byteMapWord(word: Column): Column =
    concat_ws("", transform(
      regexp_extract_all(hex(encode(word, "UTF-8")), lit("(..)"), lit(1)),
      x => element_at(byteMapLit, x)))

  /** Byte-level (word, cnt) table: split on single space, keep CASE
    * and every non-empty token (punctuation, digits, any Unicode —
    * nothing is out-of-alphabet, unlike [[wordCounts]]'s ^[a-z]+$
    * domain), count RAW tokens first (the one corpus-sized pass),
    * then byte-map only the distinct vocabulary. */
  def byteWordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("raw"))
      .filter(col("raw") =!= "")
      .groupBy("raw").agg(count(lit(1)).as("cnt"))
      .select(byteMapWord(col("raw")).as("word"), col("cnt"))

  /** Inverse of [[byteMapWord]] for reading byte-level tokens back
    * as text (merge-table debugging, vocab export): each mapped char
    * returns to its byte, the byte string decodes as UTF-8. A token
    * whose merges split a multi-byte codepoint mid-sequence decodes
    * its torn edge to U+FFFD replacement chars — inherent to
    * byte-level vocabularies (GPT-2 tooling does the same), stated
    * rather than hidden. Codegen'd: char → hex via the inverse
    * literal map, concat, unhex, bytes-as-string cast (lenient,
    * unlike `decode` which RAISES on malformed UTF-8 in Spark 4),
    * then make_valid_utf8 pins the torn edges to U+FFFD. Defined on
    * alphabet strings (everything [[byteMapWord]] and the merge
    * machinery emit); chars outside [[byteAlphabet]] have no byte
    * and are skipped by the null-ignoring concat. */
  def byteUnmap(token: Column): Column =
    make_valid_utf8(unhex(concat_ws("", transform(
      regexp_extract_all(token, lit("(.)"), lit(1)),
      x => element_at(byteUnmapLit, x)))).cast("string"))

  private lazy val byteUnmapLit: Column = map(
    byteAlphabet.zipWithIndex.flatMap { case (ch, b) =>
      Seq(lit(ch), lit(f"$b%02X"))
    }: _*)

  /** The byte map as a DuckDB VALUES relation body `(hx, ch)` —
    * generated from [[byteAlphabet]] so the two engines cannot
    * drift. */
  private def byteMapValuesSql: String =
    byteAlphabet.zipWithIndex.map { case (ch, b) =>
      s"('${"%02X".format(b)}', '${ch.replace("'", "''")}')"
    }.mkString(", ")

  /** DuckDB restatement of [[byteWordCounts]] over `docsRel`
    * (a table name or parenthesized subquery with `$textCol`):
    * raw-count first, then per-byte map via the lateral
    * UNNEST(generate_series) + VALUES-join (pairCountsSql's lateral
    * pattern), string_agg ordered by byte position. */
  def byteWordCountsSql(docsRel: String, textCol: String): String =
    s"""SELECT string_agg(m.ch, '' ORDER BY p.i) AS word,
       |    any_value(r.cnt) AS cnt
       |  FROM (SELECT raw, CAST(count(*) AS BIGINT) AS cnt FROM (
       |          SELECT unnest(string_split($textCol, ' ')) AS raw
       |          FROM $docsRel)
       |        WHERE raw != '' GROUP BY raw) r,
       |    UNNEST(generate_series(1,
       |      CAST(octet_length(encode(r.raw)) AS BIGINT))) AS p(i)
       |  JOIN (VALUES $byteMapValuesSql) m(hx, ch)
       |    ON m.hx = substring(hex(encode(r.raw)),
       |      CAST(p.i * 2 - 1 AS INT), 2)
       |  GROUP BY r.raw""".stripMargin

  /** Token census after encoding: (token, n) weighted by word
    * frequency — the learned vocabulary's usage distribution.
    */
  def tokenCensus(encoded: DataFrame): DataFrame =
    encoded
      .select(col("cnt"),
        explode(expr("filter(split(sym, '  '), x -> x != '')")).as("token"))
      .groupBy("token").agg(sum("cnt").as("n"))

  // ----------------------------------------------------------------
  // Generated DuckDB oracle — the SAME loop emits the SQL, so the
  // oracle cannot drift from the Spark semantics (PageRank.sql's
  // pattern).
  // ----------------------------------------------------------------

  /** SQL for the word-count CTE over `docsTable`.`textCol`. */
  def wordCountsSql(docsTable: String, textCol: String): String =
    s"""SELECT word, count(*) AS cnt FROM (
       |  SELECT unnest(string_split(lower($textCol), ' ')) AS word
       |  FROM $docsTable)
       |WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY word""".stripMargin

  private def pairCountsSql(wTable: String): String =
    s"""SELECT syms[i] AS lhs, syms[i + 1] AS rhs,
       |    CAST(SUM(cnt) AS BIGINT) AS c
       |  FROM (SELECT cnt,
       |          list_filter(string_split(sym, '  '), x -> x != '') AS syms
       |        FROM $wTable) t,
       |    UNNEST(generate_series(1, len(syms) - 1)) AS g(i)
       |  GROUP BY 1, 2""".stripMargin

  /** Oracle for `train`: CTE chain w0 → (pc_k, b_k, w_k)* → merges.
    * Every stage CTE is AS MATERIALIZED: w_{k-1} is referenced by
    * both pc_k and w_k, so INLINING would re-evaluate the whole
    * prefix 2^k times — materialization keeps the oracle linear in
    * nMerges, mirroring the Spark side's barriered word table.
    */
  def trainSql(wordsCte: String, nMerges: Int): String = {
    require(nMerges >= 1, // 0 rounds would generate an empty UNION body
      s"trainSql needs nMerges >= 1, got $nMerges")
    val base =
      s"""WITH dw AS MATERIALIZED ($wordsCte),
         |w0 AS MATERIALIZED (SELECT cnt,
         |  '  ' || regexp_replace(word, '(.)', '\\1  ', 'g') AS sym
         |  FROM dw)""".stripMargin
    val iters = (1 to nMerges).map { k =>
      s"""pc$k AS MATERIALIZED (
         |${pairCountsSql(s"w${k - 1}")}),
         |b$k AS MATERIALIZED (SELECT lhs, rhs, c FROM pc$k
         |  ORDER BY c DESC, lhs, rhs LIMIT 1),
         |w$k AS MATERIALIZED (SELECT cnt,
         |  CASE WHEN (SELECT count(*) FROM b$k) = 0 THEN sym
         |    -- corpus exhausted: mirror train()'s early stop instead of
         |    -- NULL-poisoning every sym via replace(sym, NULL, NULL)
         |    ELSE replace(sym,
         |      ' ' || (SELECT lhs FROM b$k) || '  ' || (SELECT rhs FROM b$k) || ' ',
         |      ' ' || (SELECT lhs FROM b$k) || (SELECT rhs FROM b$k) || ' ')
         |  END AS sym
         |  FROM w${k - 1})""".stripMargin
    }
    val finals = (1 to nMerges)
      .map(k => s"SELECT $k AS iter, lhs, rhs, c AS cnt FROM b$k")
      .mkString("\nUNION ALL\n")
    ((base +: iters).mkString(",\n")) +
      s"\nSELECT * FROM (\n$finals\n) ORDER BY iter"
  }

  /** The training chain's CTE prefix (everything before the final
    * merge-table SELECT) — the reusable piece every encode-side
    * oracle extends. */
  private def trainChain(wordsCte: String, nMerges: Int): String = {
    val train = trainSql(wordsCte, nMerges)
    train.substring(0, train.indexOf("\nSELECT * FROM ("))
  }

  /** Oracle for encode-then-census over the same learned merges:
    * extends the training chain with the final token count.
    */
  def censusSql(wordsCte: String, nMerges: Int, topK: Int): String =
    s"""${trainChain(wordsCte, nMerges)}
       |SELECT token, CAST(SUM(cnt) AS BIGINT) AS n FROM (
       |  SELECT cnt, unnest(list_filter(string_split(sym, '  '),
       |    x -> x != '')) AS token
       |  FROM w$nMerges)
       |GROUP BY token ORDER BY n DESC, token LIMIT $topK""".stripMargin

  /** Oracle for [[encodedSym]]-based per-language fertility (q336):
    * the training chain runs on the corpus-global word table exactly
    * as `train` does; the per-(lang, word) table then walks the SAME
    * merge scalars (lw0 → lwN mirror the engine's folded replaces,
    * with trainSql's corpus-exhausted CASE guard), and the closing
    * rollup is exact-integer sums with two 6dp-rounded divisions.
    */
  def fertilitySql(docsTable: String, textCol: String,
      nMerges: Int): String =
    fertilityFromLw(
      wordCountsSql(docsTable, textCol),
      s"""SELECT lang, word, count(*) AS cnt FROM (
         |    SELECT lang, unnest(string_split(lower($textCol), ' ')) AS word
         |    FROM $docsTable)
         |  WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY 1, 2""".stripMargin,
      nMerges)

  /** Byte-level twin of [[fertilitySql]]: merges train on
    * [[byteWordCountsSql]]'s vocabulary and the per-(lang, word)
    * walk runs on byte-mapped words — `chars` is then the UTF-8
    * BYTE count (one mapped char per byte), the byte-level
    * chars-per-token convention. */
  def byteFertilitySql(docsRel: String, textCol: String,
      nMerges: Int): String =
    fertilityFromLw(
      byteWordCountsSql(docsRel, textCol),
      s"""SELECT string_agg(m.ch, '' ORDER BY p.i) AS word,
         |    any_value(r.lang) AS lang, any_value(r.cnt) AS cnt
         |  FROM (SELECT lang, raw, CAST(count(*) AS BIGINT) AS cnt FROM (
         |          SELECT lang, unnest(string_split($textCol, ' ')) AS raw
         |          FROM $docsRel)
         |        WHERE raw != '' GROUP BY lang, raw) r,
         |    UNNEST(generate_series(1,
         |      CAST(octet_length(encode(r.raw)) AS BIGINT))) AS p(i)
         |  JOIN (VALUES $byteMapValuesSql) m(hx, ch)
         |    ON m.hx = substring(hex(encode(r.raw)),
         |      CAST(p.i * 2 - 1 AS INT), 2)
         |  GROUP BY r.lang, r.raw""".stripMargin,
      nMerges)

  /** Shared fertility-oracle chain: the training CTEs over
    * `wordsCte`, a per-(lang, word) table from `lwCte` (must yield
    * lw(lang, word, cnt)), the same merge-scalar walk over it, and
    * the closing exact-integer rollup. */
  private def fertilityFromLw(wordsCte: String, lwCte: String,
      nMerges: Int): String = {
    val lwIters = (1 to nMerges).map { k =>
      s"""lw$k AS MATERIALIZED (SELECT lang, cnt, chars,
         |  CASE WHEN (SELECT count(*) FROM b$k) = 0 THEN sym
         |    ELSE replace(sym,
         |      ' ' || (SELECT lhs FROM b$k) || '  ' || (SELECT rhs FROM b$k) || ' ',
         |      ' ' || (SELECT lhs FROM b$k) || (SELECT rhs FROM b$k) || ' ')
         |  END AS sym
         |  FROM lw${k - 1})""".stripMargin
    }.mkString(",\n")
    s"""${trainChain(wordsCte, nMerges)},
       |lw AS MATERIALIZED (
       |  $lwCte),
       |lw0 AS MATERIALIZED (SELECT lang, cnt,
       |  CAST(length(word) AS BIGINT) AS chars,
       |  '  ' || regexp_replace(word, '(.)', '\\1  ', 'g') AS sym
       |  FROM lw),
       |$lwIters
       |SELECT lang, n_words, n_tokens, n_chars,
       |  round(CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
       |    AS fertility,
       |  round(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
       |    AS chars_per_token
       |FROM (
       |  SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_words,
       |    CAST(sum(cnt * toks) AS BIGINT) AS n_tokens,
       |    CAST(sum(cnt * chars) AS BIGINT) AS n_chars
       |  FROM (SELECT lang, cnt, chars,
       |      CAST(len(list_filter(string_split(sym, '  '),
       |        x -> x != '')) AS BIGINT) AS toks
       |    FROM lw$nMerges)
       |  GROUP BY lang)
       |ORDER BY lang""".stripMargin
  }
}
