package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Warehouse vacuum — the lakehouse VACUUM / retention sweep that
  * pairs with Compaction's OPTIMIZE: every current writer replaces a
  * path through `StagedSwap` (`<table>.staging-<tag>` written, then
  * swapped in; `<table>.old-<tag>` kept until the swap lands), which
  * leaves debris behind when a run crashes between the write and the
  * swap. The untagged `<table>.staging` / `<table>.old` and
  * `<table>__compact_tmp` names are debris from earlier writers and
  * from fixtures; the sweep still reclaims them. At 100 TB that
  * debris is real money and real LIST latency, but deleting it
  * eagerly would race a concurrent in-flight swap — hence the
  * retention window: only debris older than `retentionMs` goes,
  * exactly Delta VACUUM's contract.
  *
  * Driver-side metadata op by design (one directory listing + a
  * delete per expired entry) — the data plane is never touched and
  * live table directories are NEVER candidates: eligibility is by
  * naming convention, not content inspection.
  */
object Vacuum {

  /** RESERVED warehouse suffixes — `StagedSwap`'s per-invocation
    * tagged names (`.staging-<tag>` / `.old-<tag>`, 8-hex tag) and the
    * untagged `.staging`, `.old` and `__compact_tmp` that earlier
    * writers left behind own these names; user tables must
    * not end with them. These are the suffix STEMS; the AUTHORITATIVE
    * contract of everything the sweep may delete is [[DebrisNameRe]]
    * (which also covers the tagged `-<8hex>` variants) — reserved-name
    * validation must check against that, not just these stems
    * (ADVICE r11). For the swap suffixes, eligibility additionally
    * requires the SIBLING LIVE table to exist (debris `orders.old`
    * implies a live `orders`): a user directory that merely happens
    * to be named `*.old` with no sibling is never swept.
    */
  val DebrisSuffixes: Seq[String] = Seq(".staging", ".old", "__compact_tmp")

  /** The complete debris-name contract: every directory name the
    * sweep can EVER consider a candidate matches this (and nothing
    * else is ever deleted) — `<base>.staging[-<8hex>]`,
    * `<base>.old[-<8hex>]`, `<base>__compact_tmp`. The sweep itself
    * dispatches on this same pattern, so the public constant and the
    * delete behavior cannot drift apart. */
  val DebrisNameRe: scala.util.matching.Regex =
    """^.+(\.(?:staging|old)(?:-[0-9a-f]{8})?|__compact_tmp)$""".r

  private val SwapRe = """^(.+)\.(staging|old)(-[0-9a-f]{8})?$""".r

  final case class Stats(
      nExamined: Int, nCandidates: Int, nDeleted: Int, bytesReclaimed: Long)

  /** Sweep `warehouseRoot`: delete every debris entry whose
    * modification time is older than `now - retentionMs`. `now` is
    * explicit (not System.currentTimeMillis) so runs are reproducible
    * and testable — pass the wall clock in production.
    *
    * KNOWN LEAK (by default): swap debris whose live table was itself
    * dropped later (`orders.old` left behind after `orders` was
    * removed) never regains a sibling, so the sibling rule skips it
    * forever. `sweepOrphans = true` opts into reclaiming those too —
    * still gated by the same retention window, so pair it with a MUCH
    * longer `retentionMs` than the in-flight-swap window (an orphan's
    * age must exceed any plausible table-drop + re-create cycle, since
    * without the sibling there is no live table to cross-check).
    */
  def vacuum(spark: SparkSession, warehouseRoot: String,
      retentionMs: Long, now: Long, sweepOrphans: Boolean = false): Stats = {
    require(retentionMs >= 0, "retentionMs must be >= 0")
    val root = new Path(warehouseRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(root)
    val names = entries.map(_.getPath.getName).toSet
    val candidates = entries.filter { e =>
      val name = e.getPath.getName
      // DebrisNameRe IS the dispatch (ADVICE r12): a name that fails
      // the public contract is never a candidate — including the
      // baseless edge `__compact_tmp` itself, which endsWith would
      // have accepted. SwapRe only derives the swap-base afterwards.
      DebrisNameRe.pattern.matcher(name).matches() && (name match {
        // swap debris only when the live table it was staged for is
        // present — protects a user dir that merely matches the suffix.
        // sweepOrphans extends eligibility to sibling-less debris (the
        // dropped-table leak documented above).
        case SwapRe(base, _, _) => sweepOrphans || names.contains(base)
        case _ => true // <base>__compact_tmp with a non-empty base
      })
    }
    val cutoff = now - retentionMs
    var deleted = 0
    var bytes = 0L
    candidates.foreach { e =>
      if (e.getModificationTime < cutoff) {
        val size = fs.getContentSummary(e.getPath).getLength
        if (fs.delete(e.getPath, true)) {
          deleted += 1
          bytes += size
        }
      }
    }
    Stats(entries.length, candidates.length, deleted, bytes)
  }
}
