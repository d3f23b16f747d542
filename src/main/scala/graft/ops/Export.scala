package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-shard export — the last step of a data-prep pipeline:
  * the cleaned corpus lands as N deterministic shards (JSONL here,
  * the lingua franca of LLM training loaders) plus a row-count /
  * checksum MANIFEST the training job validates against before it
  * trusts the data.
  *
  * Scale shape: shard assignment is a pure per-row expression
  * (key mod nShards — deterministic and restatable in SQL, unlike a
  * round-robin or a hash whose seed varies by engine), the write is
  * ONE `partitionBy(shard)` job (each shard lands as its own
  * directory, loaders stream shard_i independently) swapped in over
  * any earlier export by `StagedSwap`, and the manifest is one
  * aggregate over the written files — read BACK from disk, so the
  * manifest certifies what actually landed, not what was submitted.
  */
object Export {

  /** Write `docs` as `nShards` JSONL shards under `path` and return
    * the read-back manifest: (shard, n_docs, sum_ids, sum_tokens) —
    * one row per shard, ids/token sums as integrity checksums.
    */
  def jsonlShards(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      tokensCol: String,
      nShards: Int,
      path: String): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    StagedSwap.overwrite(spark, path)(docs
      .withColumn("shard", pmod(col(idCol), lit(nShards.toLong)))
      // one file per shard dir: loaders address shard_i/part-*.json
      .repartition(nShards, col("shard"))
      .write.partitionBy("shard").json(_))
    manifest(spark, path, idCol, tokensCol)
  }

  /** Recompute the manifest from what is ON DISK (the certify step —
    * run it any time to re-validate an exported corpus).
    */
  def manifest(
      spark: SparkSession,
      path: String,
      idCol: String,
      tokensCol: String): DataFrame =
    spark.read.json(path)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(idCol)).as("sum_ids"),
        sum(col(tokensCol)).as("sum_tokens"))
      .orderBy("shard")
}
