package graft.functions

import java.util.Arrays

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BitwiseXor, Cast, Expression, Literal, Multiply, Pmod, ShiftRight, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot per-row sketch loops.
  *
  * The `functions._` higher-order-function versions (transform /
  * aggregate / zip_with) evaluate an interpreted lambda per array
  * element — fine for ad-hoc work, but a MinHash signature is
  * numHashes × |shingles| lambda evaluations per document. These
  * expressions run the same math as one tight JVM loop per row
  * (~100× less overhead), which is what "custom Catalyst Expression
  * beats a UDF beats Python" means in practice: typed InternalRow
  * access, no boxing per element, and Spark's own XXH64.
  *
  * `doGenCode` emits a single static-forwarder call into the loop
  * helpers below, so the expressions participate in whole-stage
  * codegen instead of breaking the stage the way CodegenFallback
  * (or a UDF) would.
  */
object TextHashExprs {
  private val Seed = 42L

  // ---- public row-eval helpers, callable from generated code ----
  // (a Scala object emits static forwarders on the mirror class, so
  // generated Java calls graft.functions.TextHashExprs.xxxEval(...))

  def wordShingleEval(s: UTF8String, k: Int): ArrayData = {
    val toks = tokenHashes(s)
    val m = toks.length - k + 1
    val shingles =
      if (m <= 0) {
        // whole-document shingle
        var h = Seed
        var j = 0
        while (j < toks.length) { h = XXH64.hashLong(toks(j), h); j += 1 }
        Array(h)
      } else {
        val out = new Array[Long](m)
        var i = 0
        while (i < m) {
          var h = Seed
          var j = i
          while (j < i + k) { h = XXH64.hashLong(toks(j), h); j += 1 }
          out(i) = h
          i += 1
        }
        out
      }
    new GenericArrayData(sortedDistinct(shingles))
  }

  def minhashEval(input: ArrayData, numHashes: Int): ArrayData = {
    val hs = input.toLongArray()
    val sig = new Array[Long](numHashes)
    var s = 0
    while (s < numHashes) {
      var best = Long.MaxValue
      var i = 0
      while (i < hs.length) {
        val h = XXH64.hashLong(hs(i), s.toLong)
        if (h < best) best = h
        i += 1
      }
      sig(s) = best
      s += 1
    }
    new GenericArrayData(sig)
  }

  /** SimHash over CROSS-ENGINE-COMPUTABLE word-bigram features: each
    * feature string "tokA tokB" hashes to mix30(h1)·2³⁰ + mix30(h2)
    * where h1/h2 are char-polynomial hashes mod two primes
    * (list_reduce((acc·31+c) % 1000000007) etc. in DuckDB — the q32
    * fingerprint pattern), packing 60 usable bits. Bits 60–63 are
    * constant 0 for every document, so Hamming distances are
    * unaffected and the Manku chunk pigeonhole stays exact.
    *
    * Features are word BIGRAMS (adjacent token pairs; a single-token
    * document votes with that token), not single tokens: a corpus
    * drawing from V distinct words spans ≤ V distinct single-token
    * vote vectors, so fingerprints of UNRELATED docs collapse toward
    * each other on low-vocabulary corpora (measured on the synthetic
    * testdata: 31-word vocab ⇒ mean pairwise Hamming 16/60 and 2,002
    * spurious pairs at ≤ 7; bigram features ⇒ mean 28.9 and 34 —
    * near the ideal 30 of an unbiased fingerprint). A near-dup edit
    * still touches only the bigrams overlapping the edit site.
    *
    * mix30 is load-bearing: RAW polynomial hashes of short features
    * concentrate in the low bits, leaving high fingerprint bits voted
    * constant by most of the corpus — unrelated documents then land
    * within small Hamming distances and "near-dup" detection
    * collapses (the r4 regression: 483 → 14,563 pairs at sf0.01).
    * The xor-shift + multiply-mod-prime rounds scatter small values
    * across the full 30-bit range while using ONLY BIGINT-safe ops
    * (xor, >>, *, % — every intermediate < 2⁶²), so DuckDB recomputes
    * the identical fingerprint and the whole pipeline — fingerprint,
    * pigeonhole candidate generation, Hamming verify — is gated by a
    * SQL oracle.
    */
  def simhashPolyEval(s: UTF8String): Long = {
    val str = s.toString.toLowerCase(java.util.Locale.ROOT)
    val n = str.length
    // token spans
    val starts = new scala.collection.mutable.ArrayBuffer[Int](64)
    val ends = new scala.collection.mutable.ArrayBuffer[Int](64)
    var i = 0
    while (i < n) {
      while (i < n && Character.isWhitespace(str.charAt(i))) i += 1
      val st = i
      while (i < n && !Character.isWhitespace(str.charAt(i))) i += 1
      if (i > st) { starts += st; ends += i }
    }
    val tally = new Array[Int](60)
    @inline def vote(h: Long): Unit = {
      var b = 0
      while (b < 60) {
        if (((h >>> b) & 1L) == 1L) tally(b) += 1 else tally(b) -= 1
        b += 1
      }
    }
    // char polynomial over "tokA tokB" (the word-bigram feature),
    // then mix30
    def featHash(s1: Int, e1: Int, s2: Int, e2: Int): Long = {
      var h1 = 0L
      var h2 = 0L
      @inline def step(c: Long): Unit = {
        h1 = (h1 * 31 + c) % 1000000007L
        h2 = (h2 * 37 + c) % 998244353L
      }
      var j = s1
      while (j < e1) { step(str.charAt(j).toLong); j += 1 }
      if (s2 >= 0) {
        step(32L) // the joining space
        j = s2
        while (j < e2) { step(str.charAt(j).toLong); j += 1 }
      }
      mix30(h1) * 1073741824L + mix30(h2) // < 2^60
    }
    val nTok = starts.length
    if (nTok == 1) vote(featHash(starts(0), ends(0), -1, -1))
    else {
      var t = 0
      while (t < nTok - 1) {
        vote(featHash(starts(t), ends(t), starts(t + 1), ends(t + 1)))
        t += 1
      }
    }
    var fp = 0L
    var b = 0
    while (b < 60) {
      if (tally(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }

  /** 30-bit avalanche: xor-shift + multiply mod the largest prime
    * < 2³⁰, twice. Murmur-style finalization restricted to operations
    * DuckDB BIGINT arithmetic reproduces exactly (no 64-bit wrapping
    * multiply, which DuckDB rejects as overflow): input < 2³⁰ ⇒ every
    * product < 2⁶². Constants are the murmur3/xxhash mixing primes.
    */
  @inline private[graft] def mix30(x0: Long): Long = {
    val p = 1073741789L // largest prime < 2^30
    var x = x0 ^ (x0 >>> 16)
    x = (x * 0x9E3779B1L) % p
    x = x ^ (x >>> 13)
    x = (x * 0x85EBCA77L) % p
    x ^ (x >>> 16)
  }

  /** [[mix30]] as a Catalyst tree, for `Sampling.mix30` and the
    * `graft_mix30` SQL function (the function registry's builder
    * needs resolved Catalyst nodes, not Column-form unresolved
    * functions). Same constants and operations, with pmod in place of
    * `%`: equal for the non-negative keys mix30 takes.
    */
  private[graft] def mix30Expr(k: Expression): Expression = {
    val p = Literal(1073741789L) // largest prime < 2^30
    val x0 = Cast(k, LongType)
    val x1 = BitwiseXor(x0, ShiftRight(x0, Literal(16)))
    val x2 = Pmod(Multiply(x1, Literal(0x9E3779B1L)), p)
    val x3 = BitwiseXor(x2, ShiftRight(x2, Literal(13)))
    val x4 = Pmod(Multiply(x3, Literal(0x85EBCA77L)), p)
    BitwiseXor(x4, ShiftRight(x4, Literal(16)))
  }

  /** Lowercase whitespace tokenization of a UTF8String, hashed to
    * 64-bit per token. Skips empty tokens.
    */
  private[functions] def tokenHashes(s: UTF8String): Array[Long] = {
    // Locale.ROOT: the default-locale toLowerCase is not stable
    // across JVMs (tr_TR maps I→ı), which would change hashes
    // between executors
    val str = s.toString.toLowerCase(java.util.Locale.ROOT)
    val out = new scala.collection.mutable.ArrayBuffer[Long](64)
    var i = 0
    val n = str.length
    while (i < n) {
      while (i < n && Character.isWhitespace(str.charAt(i))) i += 1
      val start = i
      while (i < n && !Character.isWhitespace(str.charAt(i))) i += 1
      if (i > start)
        out += XXH64.hashUTF8String(UTF8String.fromString(str.substring(start, i)), Seed)
    }
    out.toArray
  }

  // language-ID marker table, frozen as parallel arrays for the row
  // loop (mirrors graft.text.TextAnalysis.LangMarkers — that object
  // derives the DuckDB oracle SQL from the same Seq)
  private lazy val LangNames: Array[UTF8String] =
    graft.text.TextAnalysis.LangMarkers.map(l => UTF8String.fromString(l._1)).toArray
  private lazy val LangMarkerArr: Array[Array[String]] =
    graft.text.TextAnalysis.LangMarkers.map(_._2.toArray).toArray
  private lazy val Und = UTF8String.fromString("und")

  /** Argmax-language prediction in ONE pass: pad+lowercase once, count
    * each marker's non-overlapping occurrences (indexOf advance ==
    * SQL replace-length counting), first language attaining the max
    * wins, all-zero → "und". Same decision procedure as the CASE-chain
    * oracle SQL in PipelineEntry, without the 12-replace expression
    * tree + plan barrier the composed-Column form needed.
    */
  def langPredictEval(s: UTF8String): UTF8String = {
    // Locale.ROOT like tokenHashes: UTF8String.toLowerCase falls back
    // to the DEFAULT locale off the ASCII fast path, which is neither
    // cross-executor deterministic nor oracle-stable (tr_TR: I→ı)
    val txt = " " + s.toString.toLowerCase(java.util.Locale.ROOT) + " "
    var best = -1
    var bestScore = -1L
    var total = 0L
    var i = 0
    while (i < LangMarkerArr.length) {
      val ms = LangMarkerArr(i)
      var sc = 0L
      var j = 0
      while (j < ms.length) {
        val m = ms(j)
        var idx = txt.indexOf(m)
        while (idx >= 0) { sc += 1; idx = txt.indexOf(m, idx + m.length) }
        j += 1
      }
      total += sc
      if (sc > bestScore) { best = i; bestScore = sc }
      i += 1
    }
    if (total == 0L) Und else LangNames(best)
  }

  /** Max word-bigram multiplicity in one hash-count pass (same
    * single-space tokenization as wordBigramsEval, so it equals the
    * explode+groupBy count and the HOF sort+run-length scan).
    */
  def bigramMaxMultEval(s: UTF8String): Long = {
    val str = s.toString.toLowerCase(java.util.Locale.ROOT)
    val toks = str.split(" ", -1)
    if (toks.length < 2) return 0L
    val counts = new java.util.HashMap[String, Integer](toks.length * 2)
    var best = 0
    var i = 0
    while (i < toks.length - 1) {
      val g = toks(i) + " " + toks(i + 1)
      val c = counts.merge(g, 1, (a: Integer, b: Integer) => a + b)
      if (c > best) best = c
      i += 1
    }
    best.toLong
  }

  /** Word n-grams with multiplicity in ONE fused loop — the native
    * form of the HOF chain
    *   `transform(sequence(...), i => concat(element_at(toks, i), ...))`
    * over `filter(split(lower(text), "\\s+"), t => t <> '')`, which
    * evaluates the whole split+filter subtree once PER OUTPUT ELEMENT
    * (interpreted, CodegenFallback) — O(tokens²) regex work per row.
    * This loop tokenizes once and joins spans — O(tokens·n).
    *
    * Tokenization contract (must equal the HOF form bit-for-bit):
    * lowercase, then maximal runs of non-`\s` chars where `\s` is the
    * JAVA REGEX class [ \t\n\x0B\f\r] — NOT Character.isWhitespace,
    * which is wider and would drift from split(lower(c), "\\s+") and
    * from the oracle's `TextHashes.wordTokensSql`. It lowercases with
    * `Locale.ROOT`, so equality with Spark's `lower` (which uses the
    * JVM default locale) relies on the en_US locale pinned in build.sbt.
    *
    * `joinFallback` pins the under-n-tokens rule the two HOF families
    * use: false → empty array (LmFilter, Rouge);
    * true → one gram = all tokens joined by ' ' (Dsir's
    * array(array_join(toks, ' ')) — [""] on a token-free document).
    */
  def wordNgramsEval(s: UTF8String, n: Int, joinFallback: Boolean): ArrayData = {
    val str = s.toString.toLowerCase(java.util.Locale.ROOT)
    val len = str.length
    @inline def isWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    val starts = new scala.collection.mutable.ArrayBuffer[Int](64)
    val ends = new scala.collection.mutable.ArrayBuffer[Int](64)
    var i = 0
    while (i < len) {
      while (i < len && isWs(str.charAt(i))) i += 1
      val st = i
      while (i < len && !isWs(str.charAt(i))) i += 1
      if (i > st) { starts += st; ends += i }
    }
    val nTok = starts.length
    val m = nTok - n + 1
    if (m <= 0) {
      if (!joinFallback) return new GenericArrayData(Array.empty[AnyRef])
      val sb = new java.lang.StringBuilder
      var t = 0
      while (t < nTok) {
        if (t > 0) sb.append(' ')
        sb.append(str, starts(t), ends(t))
        t += 1
      }
      return new GenericArrayData(
        Array[AnyRef](UTF8String.fromString(sb.toString)))
    }
    val out = new Array[AnyRef](m)
    var g = 0
    while (g < m) {
      val sb = new java.lang.StringBuilder(ends(g + n - 1) - starts(g) + n)
      var t = g
      while (t < g + n) {
        if (t > g) sb.append(' ')
        sb.append(str, starts(t), ends(t))
        t += 1
      }
      out(g) = UTF8String.fromString(sb.toString)
      g += 1
    }
    new GenericArrayData(out)
  }

  /** Exact Jaccard of two SORTED-DISTINCT long arrays in one merge
    * pass — the native form of
    * `size(array_intersect(a,b)) / size(array_union(a,b))`, which
    * builds two hash sets per evaluated pair (the dedup family's
    * verify step runs this once per candidate pair — the dominant
    * task time of the q316-style threshold sweeps). |∪| derives as
    * |A|+|B|−|∩| (valid because inputs are distinct); 0/0 stays NaN
    * like the int/int division it replaces.
    */
  def sortedJaccardEval(a: ArrayData, b: ArrayData): Double = {
    val xs = a.toLongArray()
    val ys = b.toLongArray()
    var i = 0
    var j = 0
    var inter = 0
    while (i < xs.length && j < ys.length) {
      val x = xs(i)
      val y = ys(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = xs.length + ys.length - inter
    if (union == 0) Double.NaN else inter.toDouble / union
  }

  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    if (a.length <= 1) return a
    Arrays.sort(a)
    var w = 1
    var i = 1
    while (i < a.length) {
      if (a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
      i += 1
    }
    if (w == a.length) a else Arrays.copyOf(a, w)
  }

  private val Helper = "graft.functions.TextHashExprs"

  def wordBigramsEval(s: UTF8String): ArrayData = {
    // single-space tokenization to match split(lower(text), " ") /
    // DuckDB string_split — NOT the whitespace-run tokenizer above
    val str = s.toString.toLowerCase(java.util.Locale.ROOT)
    val toks = str.split(" ", -1) // -1 keeps trailing empties, like SQL split
    val n = math.max(toks.length - 1, 0)
    val out = new Array[AnyRef](n)
    var i = 0
    while (i < n) {
      out(i) = UTF8String.fromString(toks(i) + " " + toks(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Word bigram strings (single-space tokenization) — one fused
    * loop; output identical to the HOF transform/concat_ws form so
    * SQL oracles keep matching.
    */
  case class WordBigrams(child: Expression) extends UnaryExpression {
    override def dataType: DataType =
      ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
    override def prettyName: String = "graft_word_bigrams"

    override protected def nullSafeEval(input: Any): Any =
      wordBigramsEval(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$Helper.wordBigramsEval($c)")

    override protected def withNewChildInternal(c: Expression): WordBigrams =
      copy(child = c)
  }

  /** Word n-grams with multiplicity (see [[wordNgramsEval]]) — the
    * codegen'd replacement for the interpreted HOF n-gram chains in
    * LmFilter/Dsir/Rouge, whose per-element lambda re-evaluated the
    * token split per output gram (O(tokens²) per row).
    */
  case class WordNgrams(child: Expression, n: Int, joinFallback: Boolean)
      extends UnaryExpression {
    require(n >= 1, "n-gram size must be >= 1")
    override def dataType: DataType =
      ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
    override def prettyName: String = "graft_word_ngrams"

    override protected def nullSafeEval(input: Any): Any =
      wordNgramsEval(input.asInstanceOf[UTF8String], n, joinFallback)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$Helper.wordNgramsEval($c, $n, $joinFallback)")

    override protected def withNewChildInternal(c: Expression): WordNgrams =
      copy(child = c)
  }

  /** Exact Jaccard of two sorted-distinct long arrays (see
    * [[sortedJaccardEval]]) — the fused verify step of the dedup
    * family's candidate pairs.
    */
  case class SortedJaccard(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.DoubleType
    override def prettyName: String = "graft_sorted_jaccard"

    override protected def nullSafeEval(a: Any, b: Any): Any =
      sortedJaccardEval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$Helper.sortedJaccardEval($a, $b)")

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): SortedJaccard = copy(left = l, right = r)
  }

  /** Sorted distinct 64-bit hashes of word k-shingles — the hashed
    * feature set used by MinHash-LSH and the n-gram Jaccard join.
    * Shorter-than-k documents collapse to one whole-document shingle.
    */
  case class WordShingleHashes(child: Expression, k: Int)
      extends UnaryExpression {
    require(k >= 1, "shingle size must be >= 1")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_word_shingle_hashes"

    override protected def nullSafeEval(input: Any): Any =
      wordShingleEval(input.asInstanceOf[UTF8String], k)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$Helper.wordShingleEval($c, $k)")

    override protected def withNewChildInternal(c: Expression): WordShingleHashes =
      copy(child = c)
  }

  /** MinHash signature over a hashed feature set: slot s is
    * min over features of xxh64(feature, seed = s).
    */
  case class MinHashSignature(child: Expression, numHashes: Int)
      extends UnaryExpression {
    require(numHashes >= 1, "numHashes must be >= 1")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_minhash_signature"

    override protected def nullSafeEval(input: Any): Any =
      minhashEval(input.asInstanceOf[ArrayData], numHashes)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$Helper.minhashEval($c, $numHashes)")

    override protected def withNewChildInternal(c: Expression): MinHashSignature =
      copy(child = c)
  }

  /** Max bigram multiplicity — the Gopher repetition-rule core, one
    * fused hash-count loop per row (vs an interpreted sort + HOF
    * fold).
    */
  case class BigramMaxMultiplicity(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_bigram_max_mult"

    override protected def nullSafeEval(input: Any): Any =
      bigramMaxMultEval(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$Helper.bigramMaxMultEval($c)")

    override protected def withNewChildInternal(c: Expression): BigramMaxMultiplicity =
      copy(child = c)
  }

  /** Marker-stopword language ID — argmax over per-language marker
    * counts, computed in one fused row loop (see langPredictEval).
    */
  case class LangPredict(child: Expression) extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.StringType
    override def prettyName: String = "graft_lang_predict"

    override protected def nullSafeEval(input: Any): Any =
      langPredictEval(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$Helper.langPredictEval($c)")

    override protected def withNewChildInternal(c: Expression): LangPredict =
      copy(child = c)
  }

  /** SimHash over polynomial token hashes (see simhashPolyEval) —
    * the oracle-computable fingerprint variant.
    */
  case class SimHashPoly64(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_simhash_poly64"

    override protected def nullSafeEval(input: Any): Any =
      simhashPolyEval(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$Helper.simhashPolyEval($c)")

    override protected def withNewChildInternal(c: Expression): SimHashPoly64 =
      copy(child = c)
  }
}

/** Column-facing wrappers for the native expressions. */
object TextHashes {
  import org.apache.spark.sql.GraftSqlBridge.{column, expression}
  import TextHashExprs._

  def wordShingleHashes(text: Column, k: Int): Column =
    column(WordShingleHashes(expression(text), k))

  def minhashSignature(hashedSet: Column, numHashes: Int): Column =
    column(MinHashSignature(expression(hashedSet), numHashes))

  def simhashPoly64(text: Column): Column =
    column(SimHashPoly64(expression(text)))

  def wordBigrams(text: Column): Column =
    column(TextHashExprs.WordBigrams(expression(text)))

  /** Word n-grams with multiplicity over `\s+`-run tokens;
    * `joinFallback` picks the under-n rule (false → empty array,
    * true → all tokens joined as one gram — the Dsir fallback). */
  def wordNgrams(text: Column, n: Int, joinFallback: Boolean = false): Column =
    column(TextHashExprs.WordNgrams(expression(text), n, joinFallback))

  /** DuckDB restatement of `wordNgrams(text, 1)` — the one place the
    * oracle SQL tokenizes: the lowercase tokens of the SQL expression
    * `text` as a list, in order, empty tokens dropped. RE2's `\s` lacks
    * the vertical tab that Java's `\s` (and [[wordNgramsEval]]) has,
    * hence `[\s\v]`. */
  def wordTokensSql(text: String): String =
    s"list_filter(string_split_regex(lower($text), '[\\s\\v]+'), x -> x <> '')"

  /** Exact Jaccard of two sorted-distinct long arrays (one merge
    * pass; equals size(array_intersect)/size(array_union) on such
    * inputs). */
  def sortedJaccard(a: Column, b: Column): Column =
    column(TextHashExprs.SortedJaccard(expression(a), expression(b)))

  def langPredict(text: Column): Column =
    column(TextHashExprs.LangPredict(expression(text)))

  def bigramMaxMultiplicity(text: Column): Column =
    column(TextHashExprs.BigramMaxMultiplicity(expression(text)))
}
