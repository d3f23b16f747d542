package graft.plans

import org.apache.spark.sql.DataFrame

/** Plan-shaping utilities, and the only code in graft that
  * materializes a DataFrame.
  *
  * Lifetime rule: a materialization lives exactly as long as some
  * DataFrame still references it. Both primitives below are local
  * checkpoints, whose blocks live at MEMORY_AND_DISK and are reclaimed
  * by the ContextCleaner once the frame is unreferenced; nothing enters
  * the CacheManager, so no caller does `unpersist` bookkeeping.
  */
object Plans {

  /** Materialization barrier: cuts the Catalyst plan here (lazy local
    * checkpoint → LogicalRDD), so that
    *  1. self-join branches downstream share ONE computation of the
    *     upstream (the scheduler dedupes by RDD identity) instead of
    *     re-running it per branch, and
    *  2. `InferFiltersFromGenerate` / predicate pushdown can no
    *     longer inline an expensive Project alias (e.g. a shingle
    *     set) into scan filters, which would evaluate it 2–3× per
    *     row, and
    *  3. an iterative operator's plan stays bounded in its rounds.
    *
    * The rows are computed by the first job that reads the frame, and
    * later jobs read the stored blocks. Use after expensive per-row
    * sketch columns, before explode/self-join fan-out, and on frames
    * a loop reads every round; the materialized slice should be the
    * compact projection (ids + hashes), never raw documents. Under
    * AQE, building the barrier already runs the upstream shuffle
    * stages (see `SkewReport.topKeys`).
    */
  def barrier(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)

  /** Eager barrier: computes the rows NOW, before the caller goes on —
    * for results that must not be re-read later, such as a source
    * served by a fixture that stops when the function returns, or a
    * probe taken before the data it reads is rewritten.
    */
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
}
