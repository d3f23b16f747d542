package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dag.Dag
import graft.dag.Dag.Model
import graft.ops.{RowFilters, SchemaContract, Snapshot, Writer}
import graft.ops.RowFilters.{Ne, RowFilter}
import graft.quality.{Checks, Freshness}
import graft.sources.{FileSource, Incremental}

/** Times the body of one named step; the tracer turns steps into spans. */
trait Steps { def apply[T](name: String)(body: => T): T }

/** The ELT data plane as repeated incremental cycles, built only from
  * graft's public API: landing files → cursor → row filter and schema
  * contract → merge into a parquet warehouse → DAG with a table and an
  * incremental model → SCD2 snapshot → tests and freshness.
  */
final class Elt(spark: SparkSession, staged: String, work: String) {
  val landing = s"$work/landing"
  val orders = s"$work/warehouse/orders"
  val models = s"$work/warehouse/models"
  private val snapshots = s"$work/warehouse/snapshots"
  private val ordersCursor = s"$work/state/orders_cursor"
  private val eventsCursor = s"$work/state/events_cursor"
  var snapshot: Option[String] = None
  var checks: Seq[String] = Nil
  var freshness: Seq[String] = Nil

  private val Target = Seq("order_id", "customer_id", "status", "amount", "updated_at")
  private val EventSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("order_id", LongType),
    StructField("kind", StringType), StructField("ts_ms", LongType)))

  private val dag = Seq(
    Model("stg_orders", Nil, _ => spark.read.parquet(orders)),
    Model("customer_revenue", Seq("stg_orders"), m => m("stg_orders")
      .groupBy("customer_id")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("amount").cast("decimal(18,2)")).as("revenue"),
        max("updated_at").as("last_update")),
      Dag.Table),
    Model("order_events", Seq("stg_orders"), m => m("new_events")
      .join(m("stg_orders").select("order_id", "status"), Seq("order_id"), "left")
      .select("event_id", "order_id", "kind", "ts_ms", "status"),
      Dag.Incremental(Seq("event_id"))))

  /** Cycle `c`'s batch lands: its files move from staging to the landing zone. */
  def arrive(c: Int): Unit = {
    val from = Paths.get(staged, f"c$c%03d")
    Files.createDirectories(Paths.get(landing))
    Files.list(from).iterator().asScala.toList.foreach { p =>
      Files.move(p, Paths.get(landing, p.getFileName.toString),
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def cycle(c: Int, step: Steps): Unit = {
    val (rawOrders, rawEvents) = step("sources") {
      (FileSource.read(spark, "csv", landing, Some("orders_*.csv")),
        FileSource.read(spark, "json", landing, Some("events_*.json"), Some(EventSchema)))
    }
    val (newOrders, newEvents) = step("cursor") {
      (Incremental.extract(rawOrders, "updated_at",
        lastValue = Incremental.loadState(spark, ordersCursor).lastValue),
        Incremental.extract(rawEvents, "event_id",
          lastValue = Incremental.loadState(spark, eventsCursor).lastValue))
    }
    val batch = step("contract") {
      val kept = RowFilters(newOrders, Seq(RowFilter("status", Ne, "CANCELLED")))
      val known = SchemaContract.applyColumns(Target, kept, SchemaContract.DiscardValue)
      SchemaContract.applyTypes(Map("amount" -> DoubleType, "updated_at" -> LongType),
        known, SchemaContract.DiscardRow)
    }
    step("writer") { Writer.write(spark, batch, orders, "merge", Seq("order_id")) }
    step("dag") {
      Dag.runMaterialized(spark, dag, models, inputs = Map("new_events" -> newEvents))
    }
    step("cursor_save") {
      Incremental.saveState(newOrders, "updated_at", ordersCursor)
      Incremental.saveState(newEvents, "event_id", eventsCursor)
    }
    step("snapshot") {
      val next = f"$snapshots/orders_c$c%03d"
      Snapshot.timestamp(snapshot.map(spark.read.parquet(_)), spark.read.parquet(orders),
        Seq("order_id"), "updated_at").write.parquet(next)
      snapshot.foreach(p => deleteTree(Paths.get(p)))
      snapshot = Some(next)
    }
    checks = step("checks") {
      Checks.run(spark.read.parquet(orders), Map(
        "order_id" -> Seq(Checks.NotNull, Checks.Unique),
        "customer_id" -> Seq(Checks.NotNull),
        "status" -> Seq(Checks.AcceptedValues(Seq("NEW", "PAID", "SHIPPED")))))
        .collect().toSeq.map(r => s"${r.getString(0)}:${r.getString(1)}:${r.getLong(2)}")
        .sorted
    }
    freshness = step("freshness") {
      Freshness.check(spark.read.parquet(orders), "orders", col("updated_at"),
        asOfMs = Elt.T0Ms + (c + 1) * Elt.CycleMs, warnAfterS = 1800, errorAfterS = 5400)
        .collect().toSeq.map((r: Row) =>
          s"${r.getString(0)}:${r.getLong(1)}:${r.getLong(2)}:${r.getString(3)}")
    }
  }

  /** Files and bytes of the merged warehouse table. */
  def tableFiles: (Int, Long) = {
    val parts = Files.list(Paths.get(orders)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    (parts.size, parts.map(Files.size).sum)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }
}

/** The landing batches' clock; equal to ELT_T0_MS and ELT_CYCLE_MS in
  * datagen.py, which stamps the batches and replays the pipeline. */
object Elt {
  val T0Ms = 1704067200000L // 2024-01-01T00:00:00Z, the first cycle's start
  val CycleMs = 3600000L
}
