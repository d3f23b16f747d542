package graft.ops

import org.apache.hadoop.fs.Path
import graft.SparkSpec

/** Compaction: file-count collapse, exact content preservation,
  * no-op fast path, staged-swap hygiene.
  */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(name: String): String = {
    val dir = s"target/scratch/compact_spec/$name"
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    dir
  }

  private def listFiles(dir: String) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
  }

  it("collapses many small files and preserves every row") {
    val dir = freshDir("collapse")
    val df = (1 to 10000).map(i => (i.toLong, s"row_$i")).toDF("id", "v")
    df.repartition(32).write.parquet(dir)
    listFiles(dir).length shouldBe 32

    val before = spark.read.parquet(dir).collect().map(_.toString).sorted
    val st = Compaction.compact(spark, dir, targetBytes = 512L * 1024 * 1024)
    st.nFilesBefore shouldBe 32
    st.nFilesAfter shouldBe 1
    st.nRows shouldBe 10000L
    listFiles(dir).length shouldBe 1
    val after = spark.read.parquet(dir).collect().map(_.toString).sorted
    after shouldBe before
    // staged dir swapped away cleanly
    debrisNextTo(dir) shouldBe empty
  }

  it("splits toward the byte target instead of always producing one file") {
    val dir = freshDir("split")
    (1 to 20000).map(i => (i.toLong, "x" * 100)).toDF("id", "v")
      .repartition(40).write.parquet(dir)
    val bytes = listFiles(dir).map(_.getLen).sum
    val target = bytes / 3 // expect ~3-4 output files
    val st = Compaction.compact(spark, dir, target)
    st.nFilesAfter shouldBe ((bytes + target - 1) / target).toInt
    spark.read.parquet(dir).count() shouldBe 20000L
  }

  it("is a no-op when the layout already meets the target") {
    val dir = freshDir("noop")
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .coalesce(1).write.parquet(dir)
    val modBefore = listFiles(dir).map(_.getModificationTime).max
    val st = Compaction.compact(spark, dir, targetBytes = 512L * 1024 * 1024)
    st.nFilesBefore shouldBe 1
    st.nFilesAfter shouldBe 1
    listFiles(dir).map(_.getModificationTime).max shouldBe modBefore // no rewrite
  }

  it("rejects a non-positive byte target") {
    an[IllegalArgumentException] should be thrownBy
      Compaction.compact(spark, "target/scratch/none", 0L)
  }
}
