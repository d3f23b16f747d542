package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Tables

/** Versioned parquet table with a commit log — the minimal lakehouse
  * time-travel primitive (`VERSION AS OF` / `TIMESTAMP AS OF`),
  * complementing `Snapshot.asOf` (which answers as-of over ROW
  * history; this answers it over TABLE history). The reference's
  * warehouse keeps only the latest materialization per model
  * (datanika `services/dbt_project.py` writes over the prior state);
  * versioned commits are the piece a 100 TB pipeline adds so a
  * training run can pin the exact corpus it read.
  *
  * Layout:
  * {{{
  *   table/
  *     _log/00000000.json    ← {"version":0,"committedAtMs":…,"dir":"v=0"}
  *     _log/00000001.json
  *     v=0/ …parquet…
  *     v=1/ …parquet…
  * }}}
  *
  * Commit protocol (same rename-aside atomicity as `Writer.merge`):
  * data files land in `v=N/` FIRST, then the manifest is written to a
  * dot-temp name and RENAMED into `_log/`. Readers resolve versions
  * only through manifests, so a crash mid-commit leaves an invisible
  * orphan data dir — never a torn table. Single-writer per table (the
  * reference's run model); a lost rename race fails the commit loudly
  * rather than double-assigning a version.
  *
  * Scale: version resolution reads only the manifest dir — N tiny
  * JSON files, driver-side metadata, no Spark job; the data read is a
  * plain pruned parquet scan of ONE version dir, so time travel costs
  * the same as reading the table. `vacuum` reclaims versions past a
  * retention count, keeping the log's tail intact.
  */
object VersionedTable {

  final case class Commit(version: Long, committedAtMs: Long, dir: String)

  private val LogDir = "_log"

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** All commits, oldest first — read from the manifest dir only. */
  def versions(spark: SparkSession, path: String): Seq[Commit] = {
    val f = fs(spark, path)
    val log = new Path(path, LogDir)
    if (!f.exists(log)) return Nil
    val VerRe = """"version"\s*:\s*(\d+)""".r
    val TsRe = """"committedAtMs"\s*:\s*(\d+)""".r
    val DirRe = """"dir"\s*:\s*"([^"]+)"""".r
    f.listStatus(log).toSeq
      .filter(s => s.getPath.getName.endsWith(".json") &&
        !s.getPath.getName.startsWith(".") &&
        // checkpoint objects consolidate manifests; they are read
        // only through versionsCheckpointed, never double-counted
        !s.getPath.getName.startsWith("checkpoint-"))
      .map { s =>
        val in = f.open(s.getPath)
        val body = try new String(
          in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
        def field(re: scala.util.matching.Regex) =
          re.findFirstMatchIn(body).map(_.group(1)).getOrElse(
            throw new IllegalStateException(
              s"corrupt manifest ${s.getPath}: $body"))
        Commit(field(VerRe).toLong, field(TsRe).toLong, field(DirRe))
      }
      .sortBy(_.version)
  }

  /** Append the dataframe as the next version; returns its number.
    * `committedAtMs` is passed explicitly (like `Snapshot.check`'s
    * runTs) so commits are reproducible and `readAsOf` is testable;
    * it must be monotone across commits — enforced, because a
    * non-monotone log would make TIMESTAMP-AS-OF ambiguous.
    */
  def commit(spark: SparkSession, path: String, df: DataFrame,
      committedAtMs: Long): Long = {
    val f = fs(spark, path)
    val prior = versions(spark, path)
    prior.lastOption.foreach { last =>
      require(committedAtMs >= last.committedAtMs,
        s"commit time $committedAtMs precedes last commit ${last.committedAtMs}")
    }
    val next = prior.lastOption.map(_.version + 1).getOrElse(0L)
    val dir = s"v=$next"
    df.write.mode("overwrite").parquet(new Path(path, dir).toString)
    val log = new Path(path, LogDir)
    f.mkdirs(log)
    val tmp = new Path(log, f".tmp-$next%08d.json")
    val out = f.create(tmp, true)
    try out.write(
      s"""{"version":$next,"committedAtMs":$committedAtMs,"dir":"$dir"}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val manifest = new Path(log, f"$next%08d.json")
    if (!f.rename(tmp, manifest)) {
      f.delete(tmp, false)
      throw new java.io.IOException(
        s"commit $next lost a rename race on $manifest (concurrent writer?)")
    }
    next
  }

  /** Optimistic-concurrency commit — the CAS every multi-writer
    * lakehouse log needs (Delta/Iceberg semantics): the commit
    * applies only if the table's latest version still equals
    * `expectedVersion` (−1 = expect an empty table); otherwise a
    * [[java.util.ConcurrentModificationException]] reports the
    * actual latest and the CALLER decides — rebase (recompute
    * against the new snapshot and retry) or abort. Two writers that
    * both pass the check and race the final rename are still
    * serialized by [[commit]]'s atomic manifest rename — this check
    * adds the read-set validation in FRONT of that, turning "my
    * write silently assumed a stale base" into a loud conflict.
    */
  def commitIf(spark: SparkSession, path: String, df: DataFrame,
      committedAtMs: Long, expectedVersion: Long): Long = {
    val latest = versions(spark, path).lastOption.map(_.version)
      .getOrElse(-1L)
    if (latest != expectedVersion)
      throw new java.util.ConcurrentModificationException(
        s"$path is at version $latest, expected $expectedVersion " +
          "(concurrent commit landed first — rebase and retry)")
    commit(spark, path, df, committedAtMs)
  }

  /** Zero-copy SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW
    * CLONE` semantics): the clone's version 0 manifest points at
    * the SOURCE's data directory for `srcVersion` by absolute path
    * — no data moves, the clone costs one manifest write. The clone
    * then evolves independently (its own commits land local `v=N`
    * dirs) and [[vacuum]] on the clone never sweeps foreign dirs.
    * Caveat (as in Delta): vacuuming the SOURCE can reclaim data a
    * shallow clone still references — deep-copy first if the source
    * outlives its retention.
    */
  def shallowClone(spark: SparkSession, srcPath: String,
      dstPath: String, srcVersion: Long, committedAtMs: Long): Long = {
    val f = fs(spark, dstPath)
    require(versions(spark, dstPath).isEmpty,
      s"clone target $dstPath is not empty")
    val src = versions(spark, srcPath).find(_.version == srcVersion)
      .getOrElse(throw new NoSuchElementException(
        s"$srcPath has no version $srcVersion"))
    val srcData = new Path(srcPath, src.dir)
    val absolute = srcData.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
      .makeQualified(srcData).toString
    val log = new Path(dstPath, LogDir)
    f.mkdirs(log)
    val tmp = new Path(log, ".tmp-00000000.json")
    val out = f.create(tmp, true)
    try out.write(
      s"""{"version":0,"committedAtMs":$committedAtMs,"dir":"$absolute"}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val manifest = new Path(log, "00000000.json")
    if (!f.rename(tmp, manifest)) {
      f.delete(tmp, false)
      throw new java.io.IOException(
        s"clone lost a rename race on $manifest")
    }
    0L
  }

  private def resolve(spark: SparkSession, path: String,
      pick: Seq[Commit] => Option[Commit], what: String): DataFrame = {
    val all = versions(spark, path)
    val c = pick(all).getOrElse(throw new NoSuchElementException(
      s"$path has no version $what (log has ${all.size} commits)"))
    Tables.parquet(spark, new Path(path, c.dir).toString)
  }

  /** VERSION AS OF n. */
  def read(spark: SparkSession, path: String, version: Long): DataFrame =
    resolve(spark, path, _.find(_.version == version), s"= $version")

  /** Latest committed version. */
  def readLatest(spark: SparkSession, path: String): DataFrame =
    resolve(spark, path, _.lastOption, "at all")

  /** TIMESTAMP AS OF tsMs: the newest version committed at or before
    * `tsMs` — the table as a reader starting then would have seen it.
    */
  def readAsOf(spark: SparkSession, path: String, tsMs: Long): DataFrame =
    resolve(spark, path, _.reverse.find(_.committedAtMs <= tsMs),
      s"committed <= $tsMs")

  /** Reclaim all but the last `retainLast` versions: manifests go
    * first (a version vanishes from the log before its data dir, so a
    * concurrent resolve never finds a manifest whose manifest-visible
    * data is gone), then data dirs, then ORPHAN `v=*` dirs no
    * manifest references (debris of crashed commits) — but ONLY
    * orphans whose numeric version is <= the latest committed one: an
    * IN-FLIGHT commit is always writing `v=latest+1` before its
    * manifest rename, and sweeping it would hand that commit a
    * manifest pointing at deleted data. Crashed debris above the
    * latest version is left for the next commit, which overwrites the
    * dir it is about to claim anyway. Returns reclaimed versions.
    */
  def vacuum(spark: SparkSession, path: String, retainLast: Int): Seq[Long] = {
    require(retainLast >= 1, "must retain at least the latest version")
    val f = fs(spark, path)
    val all = versions(spark, path)
    val drop = all.dropRight(retainLast)
    // Reconcile the checkpoint FIRST: if a checkpoint covers versions
    // this vacuum retires, a checkpoint-path reader would otherwise
    // keep resolving commits whose data dirs are about to vanish
    // (versionsCheckpointed and versions would diverge). Rewrite the
    // checkpoint to the surviving covered prefix — or drop it (and
    // the pointer) when nothing it covers survives; readers then fall
    // back to plain manifest replay.
    if (drop.nonEmpty) {
      val log = new Path(path, LogDir)
      val ptrPath = new Path(log, "_last_checkpoint")
      if (f.exists(ptrPath)) {
        val in = f.open(ptrPath)
        val ckptVer = try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLongOption
        finally in.close()
        ckptVer.foreach { cv =>
          if (drop.exists(_.version <= cv)) {
            val survivors = all.takeRight(retainLast).filter(_.version <= cv)
            val ckpt = new Path(log, f"checkpoint-$cv%08d.json")
            if (survivors.isEmpty) {
              // pointer first: a reader that loses the pointer just
              // replays manifests; a reader holding a stale pointer
              // to a deleted checkpoint falls back the same way
              f.delete(ptrPath, false)
              f.delete(ckpt, false)
            } else {
              val body = survivors.map(c =>
                s"""{"version":${c.version},"committedAtMs":${c.committedAtMs},""" +
                  s""""dir":"${c.dir}"}""").mkString("[", ",", "]")
              val tmp = new Path(log, f".tmp-ckpt-rw-$cv%08d.json")
              val out = f.create(tmp, true)
              try out.write(
                body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              finally out.close()
              // local/HDFS rename refuses an existing destination —
              // delete-then-rename; a reader in the gap falls back to
              // full replay (versionsCheckpointed tolerates a missing
              // checkpoint object)
              f.delete(ckpt, false)
              if (!f.rename(tmp, ckpt)) {
                f.delete(tmp, false)
                throw new java.io.IOException(
                  s"vacuum checkpoint rewrite race on $ckpt")
              }
            }
          }
        }
      }
    }
    drop.foreach { c =>
      f.delete(new Path(new Path(path, LogDir), f"${c.version}%08d.json"), false)
      // FOREIGN data dirs (absolute paths written by shallowClone)
      // are never swept — they belong to the source table; only the
      // manifest entry is retired. Vacuuming the SOURCE can still
      // strand a clone (the Delta shallow-clone caveat, documented
      // on shallowClone).
      if (c.dir.startsWith("v="))
        f.delete(new Path(path, c.dir), true)
    }
    val live = all.takeRight(retainLast).map(_.dir).toSet
    val latest = all.lastOption.map(_.version).getOrElse(-1L)
    f.listStatus(new Path(path)).toSeq
      .filter { s =>
        val name = s.getPath.getName
        s.isDirectory && name.startsWith("v=") && !live.contains(name) &&
          // numeric orphans above latest may be an in-flight commit;
          // non-numeric dirs can never be (commits are always v=<n>)
          name.drop(2).toLongOption.forall(_ <= latest)
      }
      .foreach(s => f.delete(s.getPath, true))
    drop.map(_.version)
  }

  /** Consolidate the whole manifest log into ONE checkpoint object +
    * a `_last_checkpoint` pointer (Delta's checkpoint shape): a
    * reader then opens the pointer, the checkpoint, and only the
    * manifests committed AFTER it — O(1 + tail) log objects instead
    * of O(versions). On a long-lived 100 TB table the log is the
    * hot metadata path; without checkpoints every read replays
    * thousands of tiny objects.
    *
    * The checkpoint is additive and never blocks concurrent
    * [[commit]]s (they land after its covered prefix). [[vacuum]]
    * reconciles it when retiring covered versions (rewrite-or-drop),
    * so checkpoint-path readers and manifest-path readers always
    * agree. Returns the checkpointed version.
    */
  def checkpoint(spark: SparkSession, path: String): Long = {
    val cs = versions(spark, path)
    require(cs.nonEmpty, s"nothing to checkpoint at $path")
    val f = fs(spark, path)
    val log = new Path(path, LogDir)
    val last = cs.last.version
    val body = cs.map(c =>
      s"""{"version":${c.version},"committedAtMs":${c.committedAtMs},""" +
        s""""dir":"${c.dir}"}""").mkString("[", ",", "]")
    val tmp = new Path(log, f".tmp-ckpt-$last%08d.json")
    val out = f.create(tmp, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val ckpt = new Path(log, f"checkpoint-$last%08d.json")
    if (!f.rename(tmp, ckpt)) {
      f.delete(tmp, false)
      throw new java.io.IOException(s"checkpoint rename race on $ckpt")
    }
    // pointer LAST, via the same tmp+rename as every other log write:
    // readers that miss it just replay manifests, and a crash
    // mid-write can never leave a torn pointer (a reader racing a
    // direct create+write could see empty/partial bytes)
    val ptrTmp = new Path(log, ".tmp-_last_checkpoint")
    val ptr = f.create(ptrTmp, true)
    try ptr.write(last.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally ptr.close()
    val ptrPath = new Path(log, "_last_checkpoint")
    f.delete(ptrPath, false)
    if (!f.rename(ptrTmp, ptrPath)) {
      f.delete(ptrTmp, false)
      throw new java.io.IOException(s"pointer rename race on $ptrPath")
    }
    last
  }

  /** Checkpoint-aware log replay: (commits oldest-first, number of
    * log objects opened). Without a checkpoint this degrades to
    * [[versions]] with opened = manifest count. */
  def versionsCheckpointed(spark: SparkSession, path: String)
      : (Seq[Commit], Long) = {
    val f = fs(spark, path)
    val log = new Path(path, LogDir)
    val ptrPath = new Path(log, "_last_checkpoint")
    if (!f.exists(ptrPath)) {
      val all = versions(spark, path)
      return (all, all.size.toLong)
    }
    // An unparseable pointer (torn write on a filesystem without the
    // rename guarantee) or a missing/unreadable checkpoint object (a
    // reader racing vacuum's delete-then-rename rewrite) is treated
    // as ABSENT — fall back to full manifest replay, exactly the
    // "readers that miss the pointer" path. The fast path is an
    // optimization, never a correctness dependency.
    val in = f.open(ptrPath)
    val ckptVerOpt = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8).trim.toLongOption
    finally in.close()
    val ckptBodyOpt = ckptVerOpt.flatMap { v =>
      try {
        val cin = f.open(new Path(log, f"checkpoint-$v%08d.json"))
        try Some(new String(cin.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8))
        finally cin.close()
      } catch { case _: java.io.IOException => None }
    }
    if (ckptBodyOpt.isEmpty) {
      val all = versions(spark, path)
      return (all, all.size.toLong)
    }
    val ckptVer = ckptVerOpt.get
    val ckptBody = ckptBodyOpt.get
    val EntryRe = ("""\{"version":(\d+),"committedAtMs":(\d+),""" +
      """"dir":"([^"]+)"\}""").r
    val fromCkpt = EntryRe.findAllMatchIn(ckptBody).map(m =>
      Commit(m.group(1).toLong, m.group(2).toLong, m.group(3))).toSeq
    val tail = f.listStatus(log).toSeq
      .filter { s =>
        val n = s.getPath.getName
        n.endsWith(".json") && !n.startsWith(".") &&
          !n.startsWith("checkpoint-") &&
          n.stripSuffix(".json").toLongOption.exists(_ > ckptVer)
      }
      .map { s =>
        val mi = f.open(s.getPath)
        val body = try new String(mi.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        finally mi.close()
        EntryRe.findFirstMatchIn(body).map(m =>
          Commit(m.group(1).toLong, m.group(2).toLong, m.group(3)))
          .getOrElse(throw new IllegalStateException(
            s"corrupt manifest ${s.getPath}: $body"))
      }
    // opened = pointer + checkpoint + tail manifests
    ((fromCkpt ++ tail).sortBy(_.version), 2L + tail.size)
  }
}
