package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.Incremental

class WriterIncrementalSpec extends SparkSpec {

  describe("Writer.merge (logical)") {
    it("replaces destination rows whose PK appears in the batch, keeps batch dups") {
      import spark.implicits._
      val existing = Seq((1L, "old"), (2L, "keep")).toDF("id", "v")
      val batch = Seq((1L, "new"), (1L, "new2"), (3L, "ins")).toDF("id", "v")
      val out = Writer.merge(existing, batch, Seq("id"))
        .as[(Long, String)].collect().sorted
      out shouldBe Array((1L, "new"), (1L, "new2"), (2L, "keep"), (3L, "ins"))
    }
  }

  describe("Writer.write merge disposition") {
    it("stages and swaps without leaving .staging/.old behind") {
      import spark.implicits._
      val path = "target/scratch/writer-spec/table"
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)

      Writer.write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
        path, "merge", Seq("id"))
      Writer.write(spark, Seq((2L, "B"), (3L, "c")).toDF("id", "v"),
        path, "merge", Seq("id"))

      val out = spark.read.parquet(path).as[(Long, String)].collect().sorted
      out shouldBe Array((1L, "a"), (2L, "B"), (3L, "c"))
      debrisNextTo(path) shouldBe empty
    }
  }

  describe("Writer.write replace disposition") {
    import spark.implicits._
    // clears the whole spec directory, so debris an earlier run left
    // next to one table cannot fail a later run
    def fresh(name: String): String = {
      val dir = "target/scratch/writer-spec-replace"
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      s"$dir/$name"
    }

    it("keeps the old table when the new batch fails") {
      val path = fresh("failed")
      Writer.write(spark, Seq(1L, 2L).toDF("id"), path, "replace")
      val failing = spark.range(3).select(
        when(col("id") === 2L, raise_error(lit("boom"))).otherwise(col("id")).as("id"))
      an[Exception] should be thrownBy Writer.write(spark, failing, path, "replace")
      spark.read.parquet(path).as[Long].collect().sorted shouldBe Array(1L, 2L)
      debrisNextTo(path) shouldBe empty
    }
    it("keeps no staging debris when a task outlives the failed write") {
      val path = fresh("straggler")
      Writer.write(spark, Seq(1L, 2L).toDF("id"), path, "replace")
      // partition 0 fails at once while partition 1 is still computing
      // its first row: the job is aborted, and partition 1 then opens
      // its writer under the staging path. It spins rather than sleeps,
      // so the kill's thread interrupt cannot cut the wait short.
      val slow = udf { (id: Long) =>
        val end = System.nanoTime() + 1500L * 1000000L
        while (System.nanoTime() < end) {}
        id
      }
      val failing = spark.range(0, 2, 1, 2).select(
        when(col("id") === 0L, raise_error(lit("boom")))
          .otherwise(slow(col("id"))).as("id"))
      an[Exception] should be thrownBy Writer.write(spark, failing, path, "replace")
      val tracker = spark.sparkContext.statusTracker
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (tracker.getExecutorInfos.exists(_.numRunningTasks > 0) &&
          System.nanoTime() < deadline)
        Thread.sleep(50)
      spark.read.parquet(path).as[Long].collect().sorted shouldBe Array(1L, 2L)
      debrisNextTo(path) shouldBe empty
    }
    it("replaces a table with a batch that reads the table") {
      val path = fresh("self-read")
      Writer.write(spark, spark.range(10).toDF("id"), path, "replace")
      Writer.write(spark, spark.read.parquet(path).filter(col("id") % 3 === 0),
        path, "replace")
      spark.read.parquet(path).as[Long].collect().sorted shouldBe
        Array(0L, 3L, 6L, 9L)
      debrisNextTo(path) shouldBe empty
    }
  }

  describe("Database.loadAll") {
    it("applies per-table dispositions and reports rows loaded") {
      import spark.implicits._
      import graft.sources.Database
      val dest = "target/scratch/database-spec-dest"
      val p = new org.apache.hadoop.fs.Path(dest)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)

      val cfg = Map(
        "t_merge" -> Database.TableConfig(disposition = "merge", primaryKey = Seq("id")),
        "t_app" -> Database.TableConfig(disposition = "append"))
      def frames(lo: Long, hi: Long) = Map(
        "t_merge" -> spark.range(lo, hi).toDF("id"),
        "t_app" -> spark.range(lo, hi).toDF("id"))

      val info1 = Database.loadAll(spark, frames(0, 4), dest, cfg)
      info1 shouldBe Map("t_merge" -> 4L, "t_app" -> 4L)
      val info2 = Database.loadAll(spark, frames(2, 6), dest, cfg)
      info2 shouldBe Map("t_merge" -> 6L, "t_app" -> 8L) // merged vs appended
    }
  }

  describe("Incremental ranges") {
    import spark.implicits._
    def df = Seq(1L, 2L, 3L, 4L).toDF("c")

    it("first run is CLOSED on initial_value (dlt fetches the initial row)") {
      Incremental.extract(df, "c", initialValue = Some(2L))
        .as[Long].collect().sorted shouldBe Array(2L, 3L, 4L)
    }
    it("re-runs are OPEN above last_value") {
      Incremental.extract(df, "c", lastValue = Some(2L))
        .as[Long].collect().sorted shouldBe Array(3L, 4L)
    }
    it("state round-trips through the typed parquet store") {
      val sp = "target/scratch/incremental-spec/state"
      val p = new org.apache.hadoop.fs.Path(sp)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      Incremental.saveState(df, "c", sp)
      Incremental.loadState(spark, sp).lastValue shouldBe Some(4L)
      Incremental.saveState(df, "c", sp) // rewrite over the stored state
      Incremental.loadState(spark, sp).lastValue shouldBe Some(4L)
      debrisNextTo(sp) shouldBe empty
      Incremental.loadState(spark, sp + "-missing").lastValue shouldBe None
    }
  }

  describe("IncrementalModel.onSchemaChange") {
    import spark.implicits._
    val existing = Seq((1L, 10.0)).toDF("k", "a")
    val batch = Seq((2L, 2.0, "x")).toDF("k", "a", "b")

    it("fail throws on schema drift") {
      an[IncrementalModel.SchemaChanged] should be thrownBy
        IncrementalModel.run(existing, batch, Seq("k"),
          onSchemaChange = IncrementalModel.Fail)
    }
    it("ignore keeps the existing relation's shape") {
      val out = IncrementalModel.run(existing, batch, Seq("k"),
        onSchemaChange = IncrementalModel.Ignore)
      out.columns.toSeq shouldBe Seq("k", "a")
      out.count() shouldBe 2
    }
    it("append_new_columns widens the target") {
      val out = IncrementalModel.run(existing, batch, Seq("k"),
        onSchemaChange = IncrementalModel.AppendNewColumns)
      out.columns.toSet shouldBe Set("k", "a", "b")
      out.filter(col("k") === 1L).head().getAs[String]("b") shouldBe null
    }
  }

  describe("IncrementalModel.isIncrementalFilter") {
    import spark.implicits._
    val batch = Seq((1L, 5L), (2L, 10L), (3L, 11L), (4L, 20L))
      .toDF("k", "updated_at")
    def keys(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("k").as[Long].collect().toSeq.sorted

    it("passes the whole batch when the existing table is empty") {
      val existing = batch.limit(0)
      keys(IncrementalModel.isIncrementalFilter(existing, batch,
        "updated_at")) shouldBe Seq(1L, 2L, 3L, 4L)
    }
    it("passes only rows strictly newer than the existing max(updated_at)") {
      val existing = Seq((9L, 3L), (8L, 10L)).toDF("k", "updated_at")
      keys(IncrementalModel.isIncrementalFilter(existing, batch,
        "updated_at")) shouldBe Seq(3L, 4L)
    }
    it("passes the whole batch when every existing updated_at is NULL") {
      val existing = Seq[(Long, Option[Long])]((9L, None), (8L, None))
        .toDF("k", "updated_at")
      keys(IncrementalModel.isIncrementalFilter(existing, batch,
        "updated_at")) shouldBe Seq(1L, 2L, 3L, 4L)
    }
  }

  describe("RowFilters null semantics") {
    import RowFilters._
    import spark.implicits._
    val df = Seq(Some(1L), Some(2L), None).toDF("x")

    it("ne treats null as 'different' (reference Python semantics)") {
      RowFilters(df, Seq(RowFilter("x", Ne, 1L))).count() shouldBe 2
    }
    it("not_in passes nulls") {
      RowFilters(df, Seq(RowFilter("x", NotIn, Seq(1L)))).count() shouldBe 2
    }
    it("in drops nulls") {
      RowFilters(df, Seq(RowFilter("x", In, Seq(1L, 2L)))).count() shouldBe 2
    }
  }
}
