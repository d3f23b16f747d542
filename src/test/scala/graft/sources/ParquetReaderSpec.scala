package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Runner, SparkSpec}
import graft.dag.Dag
import graft.dag.Dag.Model
import graft.ops.{Snapshot, Writer}

/** `Tables.parquet` gives every artifact graft writes the schema
  * `spark.read.parquet` infers, without a Spark job, and leaves the
  * cases it does not read itself to Spark; `Incremental` answers state
  * this session wrote without reading it back.
  */
class ParquetReaderSpec extends SparkSpec {

  private val base = "target/scratch/parquet-reader-spec"

  private def fresh(name: String): String = {
    val p = new Path(base, name)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    p.toString
  }

  /** `body`'s value and the Spark jobs it fired, counted under a job
    * group of its own; a probe job in a second group marks that every
    * event is in, since the listener bus delivers in order.
    */
  private def withJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"parquet-reader-${java.util.UUID.randomUUID()}"
    val probe = s"$group-probe"
    val counts = new ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => counts.merge(g, 1, (a: Integer, b: Integer) => a + b))
    }
    def inGroup[R](g: String)(f: => R): R = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      val value = inGroup(group)(body)
      inGroup(probe)(spark.range(1).collect())
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (!counts.containsKey(probe) && System.nanoTime() < deadline) Thread.sleep(20)
      counts.containsKey(probe) shouldBe true
      (value, Option(counts.get(group)).fold(0)(_.intValue))
    } finally sc.removeSparkListener(listener)
  }

  /** Same schema as Spark's inference, read without a Spark job. */
  private def readsLikeSpark(paths: String*): Unit = {
    val (df, jobs) = withJobs(Tables.parquet(spark, paths: _*))
    jobs shouldBe 0
    df.schema shouldBe spark.read.parquet(paths: _*).schema
  }

  describe("Tables.parquet on what graft writes") {
    import spark.implicits._
    val rows = Seq((1L, "a", 1.5, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, null, 2.5, null)).toDF("id", "s", "x", "ts")

    it("Writer append, replace and merge tables") {
      val append = fresh("append")
      Writer.write(spark, rows, append, "append")
      Writer.write(spark, rows, append, "append")
      readsLikeSpark(append)
      val replace = fresh("replace")
      Writer.write(spark, rows, replace, "replace")
      readsLikeSpark(replace)
      val merge = fresh("merge")
      Writer.write(spark, rows, merge, "merge", Seq("id"))
      Writer.write(spark, rows.withColumn("s", lit("b")), merge, "merge", Seq("id"))
      readsLikeSpark(merge)
    }
    it("Dag Table and Incremental models") {
      val wh = fresh("dag")
      val models = Seq(
        Model("src", Nil, _ => rows),
        Model("t", Seq("src"), m => m("src").groupBy("s").agg(
          sum(col("x").cast("decimal(18,2)")).as("total")), Dag.Table),
        Model("inc", Seq("src"), m => m("src"), Dag.Incremental(Seq("id"))))
      Dag.runMaterialized(spark, models, wh)
      Dag.runMaterialized(spark, models, wh)
      readsLikeSpark(s"$wh/t")
      readsLikeSpark(s"$wh/inc")
    }
    it("a Snapshot history") {
      val path = fresh("snapshot")
      Snapshot.timestamp(None, rows, Seq("id"), "ts").write.parquet(path)
      readsLikeSpark(path)
    }
    it("state with long, timestamp, string and decimal cursors") {
      val cursors = Seq(
        "id" -> rows,
        "ts" -> rows,
        "s" -> rows,
        "d" -> rows.withColumn("d", col("x").cast("decimal(18,2)")))
      for ((cursor, df) <- cursors) {
        val state = fresh(s"state-$cursor")
        Incremental.saveState(df, cursor, state)
        readsLikeSpark(state)
        val stored = spark.read.parquet(state).head().get(0)
        Incremental.loadState(spark, state).lastValue shouldBe Some(stored)
      }
    }
    it("the ten registry tables, events under nanosAsLong") {
      val sf = Paths.get(Runner.sfDir).resolveSibling("sf0.01").toString
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      Tables.names.foreach(n => readsLikeSpark(s"$sf/$n.parquet"))
    }
    it("a list of files, as ZoneMap reads its candidates") {
      val path = fresh("files")
      rows.repartition(2).write.parquet(path)
      val files = Files.list(Paths.get(path)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).sorted.reverse
      files.length shouldBe 2
      readsLikeSpark(files.toSeq: _*)
    }
  }

  describe("Tables.parquet leaves to Spark") {
    import spark.implicits._

    it("a partitioned directory") {
      val path = fresh("partitioned")
      Seq((1L, "a"), (2L, "b")).toDF("id", "p").write.partitionBy("p").parquet(path)
      Tables.parquet(spark, path).schema shouldBe spark.read.parquet(path).schema
      Tables.parquet(spark, path).schema.fieldNames shouldBe Array("id", "p")
    }
    it("an empty directory and a missing path, with Spark's errors") {
      val empty = fresh("empty")
      Files.createDirectories(Paths.get(empty))
      for (p <- Seq(empty, fresh("missing"))) {
        val ours = intercept[AnalysisException](Tables.parquet(spark, p))
        val theirs = intercept[AnalysisException](spark.read.parquet(p))
        ours.getCondition shouldBe theirs.getCondition
        ours.getMessage shouldBe theirs.getMessage
      }
    }
  }

  describe("Tables.parquet footers") {
    import spark.implicits._

    it("takes the schema from _common_metadata first, as Spark does") {
      val path = fresh("summary")
      Seq(1L).toDF("id").write.parquet(path)
      val wide = fresh("summary-wide")
      Seq((1L, "x")).toDF("id", "extra").write
        .option("parquet.summary.metadata.level", "ALL").parquet(wide)
      Files.copy(Paths.get(wide, "_common_metadata"), Paths.get(path, "_common_metadata"))
      spark.read.parquet(path).schema.fieldNames shouldBe Array("id", "extra")
      readsLikeSpark(path)
    }
    it("throws on a torn footer, which ArtifactIndex rebuilds on") {
      val path = fresh("torn")
      Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(path)
      val dir = Paths.get(path)
      val part = Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.write(part, Array[Byte](1, 2, 3))
      Files.deleteIfExists(dir.resolve(s".${part.getFileName}.crc"))
      an[Exception] should be thrownBy Tables.parquet(spark, path)
    }
  }

  describe("Incremental state") {
    import spark.implicits._

    it("a round over this session's state fires only saveState's aggregate and write") {
      val state = fresh("round")
      Incremental.saveState(Seq(1L, 9L).toDF("id"), "id", state)
      val next = Seq(19L).toDF("id")
      val (_, round) = withJobs {
        Incremental.loadState(spark, state).lastValue shouldBe Some(9L)
        Incremental.saveState(next, "id", state)
      }
      val (_, aggregate) = withJobs {
        next.agg(max(col("id")).as("last_value"))
          .select(greatest(col("last_value"), lit(9L)).as("last_value")).head()
      }
      val (_, write) = withJobs {
        spark.createDataFrame(java.util.Collections.singletonList(Row(19L)),
          StructType(Seq(StructField("last_value", LongType))))
          .coalesce(1).write.parquet(fresh("round-write"))
      }
      round shouldBe aggregate + write
      Incremental.loadState(spark, state).lastValue shouldBe Some(19L)
    }
    it("reads state rewritten behind its back, and none once it is gone") {
      val state = fresh("rewritten")
      Incremental.saveState(Seq(5L).toDF("id"), "id", state)
      Incremental.loadState(spark, state).lastValue shouldBe Some(5L)
      Seq(7L).toDF("last_value").coalesce(1).write.mode("overwrite").parquet(state)
      Incremental.loadState(spark, state).lastValue shouldBe Some(7L)
      fresh("rewritten")
      Incremental.loadState(spark, state).lastValue shouldBe None
    }
  }
}
