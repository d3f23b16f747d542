package graft.text

import graft.text.Bpe.Merge

/** Reference serial BPE, in memory and without Spark: the argmax pair
  * by (count DESC, lhs, rhs), one merge per round, applied to every
  * word before the next argmax. It mirrors the engine's exact
  * semantics: multiset pair counts weighted by word count and greedy
  * left-to-right non-overlapping merge application (the two-space
  * replace convention, pinned by BpeSpec's 'aaa' case). Both halves of
  * `Bpe.train` are pinned against it.
  */
object SerialBpe {

  type Word = (Vector[String], Long)
  type Pair = (String, String, Long)

  private val pairOrd: Ordering[Pair] =
    Ordering.by[Pair, (Long, String, String)](p => (-p._3, p._1, p._2))

  /** Weighted adjacent-pair counts in serial tie order. */
  def pairCounts(ws: Seq[Word]): Vector[Pair] =
    ws.iterator
      .flatMap { case (syms, cnt) =>
        (0 until syms.length - 1).iterator
          .map(i => (syms(i), syms(i + 1)) -> cnt)
      }
      .toSeq.groupMapReduce(_._1)(_._2)(_ + _)
      .iterator.map { case ((l, r), c) => (l, r, c) }
      .toVector.sorted(pairOrd)

  /** Greedy left-to-right non-overlapping fuse of adjacent (l, r). */
  private def applyMerge(syms: Vector[String], l: String,
      r: String): Vector[String] = {
    val b = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        b += l + r; i += 2
      } else { b += syms(i); i += 1 }
    }
    b.result()
  }

  def applyToAll(ws: Seq[Word], l: String, r: String): Seq[Word] =
    ws.map { case (s, c) => (applyMerge(s, l, r), c) }

  /** Up to `nMerges` serial picks over symbol-sequence words. */
  def serial(words0: Seq[Word], nMerges: Int): Vector[Pair] = {
    var ws = words0
    val out = Vector.newBuilder[Pair]
    var k = 0
    var stop = false
    while (k < nMerges && !stop) {
      val pc = pairCounts(ws)
      if (pc.isEmpty) stop = true
      else {
        val (l, r, c) = pc.head
        out += ((l, r, c))
        ws = applyToAll(ws, l, r)
        k += 1
      }
    }
    out.result()
  }

  /** The merge table serial BPE learns from a (word, cnt) table, each
    * word split into its codepoints as `Bpe.symbolize` splits it. */
  def merges(words: Seq[(String, Long)], nMerges: Int): Seq[Merge] =
    serial(words.map { case (w, c) => (Bpe.codepointSyms(w).toVector, c) },
      nMerges).zipWithIndex.map { case ((l, r, c), i) => Merge(i + 1, l, r, c) }
}
