package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Shard export: deterministic assignment, one dir per shard, and a
  * manifest that certifies the on-disk state.
  */
class ExportSpec extends SparkSpec {
  import spark.implicits._

  private def docs() = (0L until 40L)
    .map(i => (i, s"doc number $i body", i % 7 + 1))
    .toDF("doc_id", "text", "n_tokens")

  it("writes nShards dirs and the manifest matches the input") {
    val path = java.nio.file.Files.createTempDirectory("exp").toString + "/out"
    val m = Export.jsonlShards(spark, docs(), "doc_id", "n_tokens", 4, path)
      .collect()
    m.length shouldBe 4
    m.map(_.getLong(1)).sum shouldBe 40 // every row landed exactly once
    m.map(_.getLong(2)).sum shouldBe (0L until 40L).sum
    // shard dirs are addressable independently (loader contract)
    (0 until 4).foreach { sId =>
      new java.io.File(s"$path/shard=$sId").exists() shouldBe true
      spark.read.json(s"$path/shard=$sId")
        .select("doc_id").collect()
        .foreach(_.getLong(0) % 4 shouldBe sId)
    }
    debrisNextTo(path) shouldBe empty
    // a re-export replaces the earlier shards instead of mixing in
    Export.jsonlShards(spark, docs(), "doc_id", "n_tokens", 2, path)
      .collect().map(_.getLong(0)) shouldBe Array(0L, 1L)
    new java.io.File(s"$path/shard=3").exists() shouldBe false
    debrisNextTo(path) shouldBe empty
  }

  it("manifest() re-certifies an existing export") {
    val path = java.nio.file.Files.createTempDirectory("exp").toString + "/out"
    val first = Export.jsonlShards(spark, docs(), "doc_id", "n_tokens", 4, path)
      .collect()
    Export.manifest(spark, path, "doc_id", "n_tokens")
      .collect() shouldBe first
  }

  it("rejects a non-positive shard count") {
    an[IllegalArgumentException] should be thrownBy
      Export.jsonlShards(spark, docs(), "doc_id", "n_tokens", 0, "/tmp/x")
  }
}
