package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions.TextHashExprs._

/** Spark session extension registering graft's native expressions as
  * SQL functions, so `spark.sql("SELECT graft_simhash_poly64(text) ...")`
  * works in the SQL-editor path too. `Session.local` installs it in
  * every session graft builds:
  *
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got: $other")
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_word_shingle_hashes"),
      info("graft_word_shingle_hashes",
        "_FUNC_(text, k) - sorted distinct xxh64 hashes of word k-shingles"),
      (children: Seq[Expression]) => children match {
        case Seq(t, k) => WordShingleHashes(t, intLit(k, "k"))
        case _ => throw new IllegalArgumentException(
          "graft_word_shingle_hashes(text, k) takes 2 arguments")
      }),
    (FunctionIdentifier("graft_minhash_signature"),
      info("graft_minhash_signature",
        "_FUNC_(hashes, n) - n-slot MinHash signature of a hashed feature set"),
      (children: Seq[Expression]) => children match {
        case Seq(h, n) => MinHashSignature(h, intLit(n, "n"))
        case _ => throw new IllegalArgumentException(
          "graft_minhash_signature(hashes, n) takes 2 arguments")
      }),
    (FunctionIdentifier("graft_simhash_poly64"),
      info("graft_simhash_poly64",
        "_FUNC_(text) - 60-bit SimHash over polynomial+mix30 bigram hashes (cross-engine-computable)"),
      (children: Seq[Expression]) => children match {
        case Seq(t) => SimHashPoly64(t)
        case _ => throw new IllegalArgumentException(
          "graft_simhash_poly64(text) takes 1 argument")
      }),
    (FunctionIdentifier("graft_word_bigrams"),
      info("graft_word_bigrams",
        "_FUNC_(text) - word bigram strings (single-space tokenization)"),
      (children: Seq[Expression]) => children match {
        case Seq(t) => WordBigrams(t)
        case _ => throw new IllegalArgumentException(
          "graft_word_bigrams(text) takes 1 argument")
      }),
    (FunctionIdentifier("graft_bigram_max_mult"),
      info("graft_bigram_max_mult",
        "_FUNC_(text) - max word-bigram multiplicity (Gopher repetition core)"),
      (children: Seq[Expression]) => children match {
        case Seq(t) => BigramMaxMultiplicity(t)
        case _ => throw new IllegalArgumentException(
          "graft_bigram_max_mult(text) takes 1 argument")
      }),
    (FunctionIdentifier("graft_lang_predict"),
      info("graft_lang_predict",
        "_FUNC_(text) - marker-stopword language ID (argmax, 'und' on no hits)"),
      (children: Seq[Expression]) => children match {
        case Seq(t) => LangPredict(t)
        case _ => throw new IllegalArgumentException(
          "graft_lang_predict(text) takes 1 argument")
      }),
    (FunctionIdentifier("graft_cosine"),
      info("graft_cosine",
        "_FUNC_(a, b) - fused cosine similarity of two float/double arrays"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b) => graft.functions.VectorExprs.CosineSim(a, b)
        case _ => throw new IllegalArgumentException(
          "graft_cosine(a, b) takes 2 arguments")
      }),
    (FunctionIdentifier("graft_mix30"),
      info("graft_mix30",
        "_FUNC_(k) - cross-engine 30-bit avalanche (deterministic sampling " +
          "hash; input must be < 2^30)"),
      (children: Seq[Expression]) => children match {
        case Seq(k) => mix30Expr(k)
        case _ => throw new IllegalArgumentException(
          "graft_mix30(k) takes 1 argument")
      }),

    // ---- heavy-hitters sketch (aggregates return sketch BYTES; the
    // ---- registry wraps AggregateFunctions automatically). KLL and
    // ---- theta sketches are Spark's own kll_*/theta_* functions. ----
    (FunctionIdentifier("graft_freq_sketch"),
      info("graft_freq_sketch",
        "_FUNC_(item[, maxMapSize]) - mergeable Misra-Gries heavy-hitters sketch bytes"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => graft.functions.FreqSketchBuildAgg(c)
        case Seq(c, m) => graft.functions.FreqSketchBuildAgg(c, intLit(m, "maxMapSize"))
        case _ => throw new IllegalArgumentException(
          "graft_freq_sketch(item[, maxMapSize]) takes 1-2 arguments")
      }),
    (FunctionIdentifier("graft_freq_merge"),
      info("graft_freq_merge",
        "_FUNC_(sketch[, maxMapSize]) - merge heavy-hitters sketches (bytes only)"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => graft.functions.FreqMergeAgg(c)
        case Seq(c, m) => graft.functions.FreqMergeAgg(c, intLit(m, "maxMapSize"))
        case _ => throw new IllegalArgumentException(
          "graft_freq_merge(sketch[, maxMapSize]) takes 1-2 arguments")
      }),
    (FunctionIdentifier("graft_freq_top_k"),
      info("graft_freq_top_k",
        "_FUNC_(sketch, k) - top-k heavy hitters: array of (item, estimate, lower_bound, upper_bound)"),
      (children: Seq[Expression]) => children match {
        case Seq(sk, k) => graft.functions.FreqTopKExpr(sk, intLit(k, "k"))
        case _ => throw new IllegalArgumentException(
          "graft_freq_top_k(sketch, k) takes 2 arguments")
      }))
}
