package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The shared discipline of every persisted derived-artifact index
  * (the q325 LM count tables, the q331 DSIR corpus distribution, the
  * ROUGE reference counts): an artifact is a parquet table whose rows
  * carry self-describing metadata as RLE'd constants — a FAMILY tag
  * pinning the semantics it serves, plus a two-long SIGNATURE of the
  * corpus it was derived from — and every probe validates that
  * metadata before trusting the artifact; any mismatch, foreign
  * family, or read failure rebuilds through [[StagedSwap]] (never
  * aborts a scoring job, never serves stale counts). Extracted r11
  * (VERDICT r10 item 3) from the structurally-parallel
  * LmFilter/Dsir implementations so the third family is a
  * configuration of this module, not a third re-implementation.
  *
  * Freshness (VERDICT r10 item 1 — the highest-leverage scale item):
  * the signature can be computed two ways, chosen by the CALLER per
  * probe:
  *
  *  - [[Fingerprint]] (default, self-contained): one full scan of
  *    the corpus producing (row count, order-independent XOR+SUM
  *    hash). Orders cheaper than a retrain, but at 100 TB the
  *    validation scan dominates the O(batch) probe it guards.
  *  - [[Token]] (production): a caller-supplied metadata-sized
  *    version token — a [[VersionedTable]] commit version (see
  *    [[latestVersionToken]]), an ingest ledger sequence, a snapshot
  *    id. The probe compares two longs; the corpus is NEVER scanned
  *    unless the token mismatches and forces a rebuild. The caller
  *    owns the token's contract: it must change whenever the corpus
  *    slice changes (exactly the lakehouse table-version contract).
  *
  * Both modes store the signature in the same two metadata columns;
  * a token-signed artifact is marked by `rows = TokenRows` (-1 —
  * unreachable by a fingerprint scan, whose count is >= 0), so a
  * mode switch reads as a plain signature mismatch and rebuilds
  * explicitly rather than mixing regimes silently.
  */
object ArtifactIndex {

  /** How a probe decides a persisted artifact still matches the
    * corpus it was derived from. */
  sealed trait Freshness

  /** Full-scan corpus fingerprint — self-contained but costs one
    * corpus scan per probe. The safe default. */
  case object Fingerprint extends Freshness

  /** Caller-supplied metadata-sized version token — O(metadata)
    * probes; the token must change whenever the corpus does. */
  final case class Token(value: Long) extends Freshness

  /** `rows` marker for token-signed artifacts: a fingerprint scan
    * always yields a count >= 0, so -1 is unreachable and the two
    * regimes can never be confused. */
  val TokenRows: Long = -1L

  /** (row count, combined hash fingerprint) — an order-independent
    * one-scan fingerprint of a corpus slice; two driver scalars.
    *
    * A bit-XOR alone cancels even-multiplicity texts ({A,A} and
    * {B,B} both XOR to 0: two different duplicate-heavy slices of
    * equal row count could collide and silently reuse a stale
    * index), so the fingerprint folds in an order-independent
    * wrapping SUM of the same hashes: each xxhash64 reduces to
    * [0, 2^31) per row, the sum accumulates as DECIMAL(38,0) (no
    * ANSI long overflow at any row count), reduces mod 2^61-1, and
    * rotates into the XOR's high half. {A,A} and {B,B} then differ
    * unless the 31-bit hash reductions themselves collide.
    */
  def fingerprint(corpus: DataFrame, textCol: String): (Long, Long) = {
    val h = xxhash64(col(textCol))
    val r = corpus.agg(count(lit(1)).as("n"),
      coalesce(bit_xor(h), lit(0L)).as("x"),
      coalesce(sum(pmod(h, lit(1L << 31)).cast("decimal(38,0)")),
        lit(0L).cast("decimal(38,0)")).as("s"))
      .head()
    val sumMod = r.getDecimal(2).toBigInteger
      .mod(java.math.BigInteger.valueOf((1L << 61) - 1)).longValue
    (r.getLong(0), r.getLong(1) ^ java.lang.Long.rotateLeft(sumMod, 32))
  }

  /** The current corpus signature under `freshness`. `corpus` is
    * by-name and NOT evaluated in [[Token]] mode — the entire point:
    * a token probe must cost O(metadata), no corpus scan, which the
    * freshness spec proves by probing with a corpus whose evaluation
    * raises. */
  def signature(freshness: Freshness, corpus: => DataFrame,
      textCol: String): (Long, Long) = freshness match {
    case Fingerprint => fingerprint(corpus, textCol)
    case Token(v) => (TokenRows, v)
  }

  /** [[Token]] from a [[VersionedTable]]'s latest commit — the
    * lakehouse freshness signal: resolving it reads only the
    * manifest dir (tiny JSONs, no Spark job), and any commit to the
    * table bumps it. */
  def latestVersionToken(spark: SparkSession, tablePath: String): Token = {
    val vs = VersionedTable.versions(spark, tablePath)
    require(vs.nonEmpty, s"$tablePath has no commits — nothing to sign")
    Token(vs.last.version)
  }

  /** [[Token]] from the FILE LISTING of a raw table directory — the
    * freshness signal for corpora that are plain parquet dirs rather
    * than versioned tables: an order-independent hash of every data
    * file's (path relative to `dir`, length, modification time).
    * Resolving it is one filesystem listing — driver-side metadata,
    * no Spark job, no data read. Any rewrite, compaction, append,
    * delete, or partition-subdirectory move changes the listing and
    * bumps the token (ADVICE r11 hardened this: the old (basename,
    * length) hash missed subdirectory moves — two same-name
    * same-length files under different partition dirs XOR-cancelled —
    * and in-place rewrites preserving name+length). Remaining
    * heuristic gap, inherent to a metadata token: a rewrite that
    * preserves relative path, length, AND the filesystem's
    * modification timestamp keeps the token — [[Fingerprint]] is the
    * content-level fallback. Spurious bumps (a byte-identical
    * rewrite with a new mtime) only cost one safe rebuild.
    */
  def fileToken(spark: SparkSession, dir: String): Token = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootUri = fs.makeQualified(p).toUri
    var acc = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val s = it.next()
      val name = s.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        // relative path, not basename: placement inside partition
        // subdirectories is part of the identity being signed
        val rel = rootUri.relativize(s.getPath.toUri).getPath
        // order-independent: XOR of per-file hashes, so listing order
        // (filesystem-dependent) cannot change the token
        acc ^= scala.util.hashing.MurmurHash3.stringHash(
          s"$rel:${s.getLen}:${s.getModificationTime}").toLong *
          0x9e3779b97f4a7c15L
      }
    }
    Token(acc)
  }

  /** Build-or-reuse loop every indexed family runs: read the
    * artifact at `path`, validate `metaCols` exist and `accept` holds
    * on the first row (family tag, model metadata, signature — the
    * caller's predicate sees the columns in `metaCols` order); on any
    * mismatch or read failure rebuild via `build` under the staged
    * swap; return the (now valid) artifact.
    *
    * A READ FAILURE logs before rebuilding: the treat-any-failure-
    * as-rebuild rule is for torn artifacts from crashed writers, but
    * the same catch would otherwise silently mask a recurring
    * IO/permission misconfiguration as an eternal retrain loop
    * (ADVICE r10) — the log line is how an operator tells the two
    * apart. A plain metadata/signature mismatch is the NORMAL stale
    * path and stays quiet, and so does a path that does not exist yet
    * (a first build: nothing is torn).
    */
  def buildOrReuse(spark: SparkSession, path: String,
      metaCols: Seq[String], accept: Row => Boolean)(
      build: String => Unit): DataFrame =
    buildOrReuseMeta(spark, path, metaCols, accept)(build)._1

  /** [[buildOrReuse]] plus the first `metaCols` row it read: ONE
    * head(1) serves both the freshness validation and the caller's
    * model dispatch (the r14 shape re-read the artifact footers and
    * re-scanned the first row in every indexed scorer — two extra
    * driver round trips per probe, r15 guide §1.2/§5). On the reuse
    * path the already-read frame is returned (no second listing);
    * after a rebuild the fresh artifact is read once and its first
    * metaCols row returned WITHOUT the accept gate (None when the
    * build produced an empty or column-less artifact) — the caller's
    * own loud empty/family validation applies exactly as before.
    */
  def buildOrReuseMeta(spark: SparkSession, path: String,
      metaCols: Seq[String], accept: Row => Boolean)(
      build: String => Unit): (DataFrame, Option[Row]) = {
    val target = new org.apache.hadoop.fs.Path(path)
    val exists = target.getFileSystem(
      spark.sparkContext.hadoopConfiguration).exists(target)
    val reused: Option[(DataFrame, Row)] =
      if (!exists) None
      else try {
        val idx = Tables.parquet(spark, path)
        if (metaCols.forall(idx.columns.contains))
          idx.select(metaCols.map(col): _*).head(1).find(accept)
            .map(r => (idx, r))
        else None
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[graft] artifact index at $path unreadable — rebuilding " +
              s"(torn artifact, or a recurring IO/config failure if " +
              s"this repeats): $e")
          None
      }
    reused match {
      case Some((idx, r)) => (idx, Some(r))
      case None =>
        StagedSwap.overwrite(spark, path)(build)
        val idx = Tables.parquet(spark, path)
        val meta =
          if (metaCols.forall(idx.columns.contains))
            idx.select(metaCols.map(col): _*).head(1).headOption
          else None
        (idx, meta)
    }
  }
}
