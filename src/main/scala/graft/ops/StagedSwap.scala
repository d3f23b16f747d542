package graft.ops

import org.apache.spark.sql.SparkSession

/** The one way graft replaces what is at a path: `Writer.write`'s
  * `replace` and `merge`, Dag `Table` models, seeds, incremental
  * state, `Compaction` and `Export` all go through [[overwrite]]. It
  * writes the new artifact NEXT TO the target and swaps it in by
  * rename. An in-place mode(overwrite) deletes the live files first:
  * a failed job then leaves an empty table, a batch that reads its
  * own target loses its input, and a concurrent reader sees a torn
  * directory. Here a reader of `path` sees the OLD complete artifact
  * or (for the instant between the two renames) a missing path, never
  * a torn one, and readers built on the treat-any-failure-as-rebuild
  * rule recover from both. A failed write leaves the target as it
  * was; a crash mid-swap leaves the old, the new, or a suffixed aside
  * — never nothing.
  *
  * Concurrency contract: single writer per target (the
  * VersionedTable run model). Staging/aside paths carry a unique
  * per-invocation suffix, so two racing rebuilds cannot rename or
  * delete EACH OTHER'S directories — the loser's rename of target
  * simply fails loudly (or its aside is orphaned, reclaimable by
  * `Vacuum`) rather than corrupting the winner's swap; last-rename-wins
  * ordering of the final artifact is still unspecified, which is why
  * multi-writer coordination stays the caller's job.
  */
object StagedSwap {

  /** Run `write` against a fresh staging path, then swap it into
    * `path` via rename-aside. `write` must produce a complete artifact
    * at the staging path it is given (e.g. `df.write.parquet(_)`); if
    * it throws, the staging path is removed once the failed write's
    * tasks have stopped, and `path` is untouched.
    */
  def overwrite(spark: SparkSession, path: String)(
      write: String => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    // Path drops a trailing `/`, so the siblings never land inside
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staging = new Path(s"$target.staging-$tag")
    try write(staging.toString)
    catch {
      case e: Throwable =>
        awaitStragglers(spark)
        fs.delete(staging, true)
        throw e
    }
    val old = new Path(s"$target.old-$tag")
    val hadTarget = fs.exists(target)
    if (hadTarget && !fs.rename(target, old))
      throw new java.io.IOException(
        s"staged swap: rename $target -> $old failed")
    if (!fs.rename(staging, target)) {
      if (hadTarget) fs.rename(old, target) // restore
      throw new java.io.IOException(
        s"staged swap: rename $staging -> $target failed")
    }
    if (hadTarget) fs.delete(old, true)
  }

  /** Waits, up to 10 s, until no job in the caller's job group has a
    * running task. A failed write's job is aborted as soon as one task
    * fails, but its other running tasks are only asked to stop: one
    * still computing its first row in code that ignores interrupts goes
    * on to open its writer, which re-creates `<staging>/_temporary/...`
    * after the staging path is deleted. A concurrent job in the same
    * group only adds to the wait.
    */
  private def awaitStragglers(spark: SparkSession): Unit = {
    val tracker = spark.sparkContext.statusTracker
    val group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
    def running: Boolean = tracker.getJobIdsForGroup(group).iterator
      .flatMap(j => tracker.getJobInfo(j).iterator)
      .filter(_.status != org.apache.spark.JobExecutionStatus.SUCCEEDED)
      .flatMap(_.stageIds.iterator)
      .exists(s => tracker.getStageInfo(s).exists(_.numActiveTasks > 0))
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (running && System.nanoTime() < deadline) Thread.sleep(50)
  }
}
