package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mergeable sketches for incremental/distributed distinct counting
  * (Apache DataSketches HLL, shipped with Spark 3.5+). The point at
  * 100 TB: a per-partition/per-batch sketch column is a few KB,
  * merges associatively (so incremental batches and partial
  * aggregates compose), and answers COUNT DISTINCT without ever
  * re-shuffling raw values — the pattern behind incremental
  * unique-user metrics over append-only event streams.
  */
object Sketches {

  /** Incremental distinct-count state: per group, sketch each batch,
    * union with the persisted state, estimate. Returns the new state
    * frame (group cols + sketch + estimate).
    */
  def incrementalDistinct(
      state: Option[DataFrame],
      batch: DataFrame,
      groupCols: Seq[String],
      valueCol: String): DataFrame = {
    val batchSketch = batch.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol)).as("sketch"))
    val combined = state match {
      case None => batchSketch
      case Some(st) => st.select((groupCols :+ "sketch").map(col): _*)
        .unionByName(batchSketch)
        .groupBy(groupCols.map(col): _*)
        .agg(hll_union_agg(col("sketch")).as("sketch"))
    }
    combined.withColumn("distinct_est", hll_sketch_estimate(col("sketch")))
  }
}
