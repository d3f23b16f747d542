package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.io.Source
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.sources.Tables

/** One benchmark JVM: builds a session, warms up, prints `READY`, then
  * executes its plan file line by line and writes one JSON result.
  *
  * Plan lines: `cold <query>` / `warm <query>` (registry query, result
  * fingerprinted), `count <query>` (registry query, `.count()` as the
  * action — the job profile `graft.tools.StageProfile` prints), and
  * `cycle <n>` (one ELT cycle).
  *
  *   --data DIR --warmup Q1,Q2 --plan FILE --out FILE --cpus N
  *   --trace 0|1 [--staged DIR]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    a.get("list").foreach { f => Files.writeString(Paths.get(f), registry()); return }
    val data = a("data")
    val cpus = a("cpus").toInt
    val traced = a("trace") == "1"
    val plan = Source.fromFile(a("plan")).getLines().map(_.trim)
      .filter(_.nonEmpty).map(_.split(" ", 2)).map(p => (p(0), p(1))).toList

    HeapPeak.install()
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val t0 = System.nanoTime()
    val (spark, confs) = session(cpus, data)
    val startMs = (System.nanoTime() - t0) / 1e6
    val tracer = if (traced) Some(new Tracer(spark)) else None
    def span[T](name: String, kind: String)(body: => T): T =
      tracer.fold(body)(_.span(name, kind)(body))
    val steps = new Steps {
      def apply[T](name: String)(body: => T): T = span(name, "phase")(body)
    }

    val w0 = System.nanoTime()
    span("warmup", "setup") {
      a("warmup").split(",").foreach { q =>
        Fingerprint.frame(SparkEntry.queries(q)(spark, data)).collect()
      }
    }
    val warmupMs = (System.nanoTime() - w0) / 1e6

    val elt = a.get("staged").map(s => new Elt(spark, s, Paths.get("").toAbsolutePath.toString))
    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    val io0 = writtenBytes()
    (1 to 30).foreach(_ => HostSpeed.sample())  // compiled before it is timed
    println("READY")
    System.out.flush()
    val wall0 = System.nanoTime()
    val cpu0 = cpu.getProcessCpuTime
    // the harness's own work after each operation (the traced run's extra
    // reads, the host-speed samples), kept out of wall_ms and cpu_ms
    var extraNs, extraCpuNs = 0L

    plan.foreach { case (op, arg) =>
      val rec = mutable.LinkedHashMap[String, Any]("op" -> op, "name" -> arg)
      spark.sparkContext.setJobGroup(arg, op, interruptOnCancel = false)
      val s0 = System.nanoTime()
      val c0 = cpu.getProcessCpuTime
      try span(s"$op $arg", if (op == "cycle") "cycle" else "query") {
        op match {
          case "cold" | "warm" =>
            val df = steps("build") { SparkEntry.queries(arg)(spark, data) }
            val fp = steps("plan") {
              val f = Fingerprint.frame(df)
              f.queryExecution.executedPlan
              f
            }
            val (n, h) = steps("execute") { Fingerprint.read(fp.collect()) }
            rec("rows") = n
            rec("fp") = h
            if (traced) rec("tables") = Tracer.tables(fp.queryExecution.executedPlan)
          case "count" =>
            rec("rows") = steps("execute") { SparkEntry.queries(arg)(spark, data).count() }
          case "cycle" =>
            elt.get.arrive(arg.toInt)
            elt.get.cycle(arg.toInt, steps)
        }
        rec("ok") = true
      } catch {
        case e: Throwable =>
          rec("ok") = false
          rec("error") = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
      rec("lat_ms") = (System.nanoTime() - s0) / 1e6
      rec("cpu_ms") = (cpu.getProcessCpuTime - c0) / 1e6
      spark.sparkContext.clearJobGroup()
      if (traced) {
        val x0 = System.nanoTime()
        if (op == "cycle") {
          val (files, bytes) = elt.get.tableFiles
          rec("writer.files") = files
          rec("writer.bytes") = bytes
        }
        // the cost of loading each table this query read, timed by itself
        rec("sources.load_ms") = rec.get("tables").toSeq.flatMap(_.asInstanceOf[Seq[String]])
          .filter(Tables.names.contains).map { t =>
            val l0 = System.nanoTime()
            Tables.load(spark, data, t).schema
            (System.nanoTime() - l0) / 1e6
          }.sum
        val sc = spark.sparkContext
        rec("plans.persisted_rdds") = sc.getPersistentRDDs.size
        val storage = sc.getRDDStorageInfo
        rec("plans.cached_bytes") = storage.map(r => r.memSize + r.diskSize).sum
        rec("plans.cache_entries") = storage.map(_.numCachedPartitions).sum
        extraNs += System.nanoTime() - x0
      }
      val (x0, xc0) = (System.nanoTime(), cpu.getProcessCpuTime)
      rec("kernel_ms") = Seq.fill(HostSpeed.PerOp)(HostSpeed.sample())
      extraNs += System.nanoTime() - x0
      extraCpuNs += cpu.getProcessCpuTime - xc0
      records += rec.toMap
    }
    val wallMs = (System.nanoTime() - wall0 - extraNs) / 1e6
    val cpuMs = (cpu.getProcessCpuTime - cpu0 - extraCpuNs) / 1e6
    val written = writtenBytes() - io0

    val out = mutable.LinkedHashMap[String, Any](
      "session.start_ms" -> startMs, "session.warmup_ms" -> warmupMs,
      "wall_ms" -> wallMs, "cpu_ms" -> cpuMs,
      "disk_write_bytes" -> written,
      "confs" -> confs, "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))
    elt.foreach { e =>
      out("elt") = Map("orders" -> e.orders, "models" -> e.models,
        "snapshot" -> e.snapshot.getOrElse(""), "checks" -> e.checks,
        "freshness" -> e.freshness)
    }
    tracer.foreach { t =>
      val (spans, own, inclusive) = t.report()
      out("spans") = spans.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
          "start_ms" -> s.startMs, "dur_ms" -> s.durMs,
          "counters" -> (s.probe.toMap ++ own.getOrElse(s.id, Map.empty)))
      }
      out("inclusive") = spans.filter(s => s.parent == -1).map { s =>
        Map("id" -> s.id, "name" -> s.name, "kind" -> s.kind,
          "counters" -> (inclusive(s.id) ++ s.probe))
      }
    }
    // full GCs with pauses between them until the used heap has stopped
    // falling twice in a row: Spark's ContextCleaner releases broadcast and
    // shuffle state only after a collection found its owner unreachable,
    // and on a busy host one pause is not always enough for it to catch up
    val mem = ManagementFactory.getMemoryMXBean
    def usedAfterGc(): Long = {
      System.gc()
      val u = mem.getHeapMemoryUsage.getUsed
      Thread.sleep(200)
      u
    }
    var retained = usedAfterGc()
    var (steady, gcs) = (0, 1)
    while (steady < 2 && gcs < 15) {
      val u = usedAfterGc()
      gcs += 1
      steady = if (retained - u < (1L << 20)) steady + 1 else 0
      retained = math.min(retained, u)
    }
    val heap = mem.getHeapMemoryUsage
    out("heap_retained_bytes") = retained
    spark.stop()
    // the heap is committed and pre-touched at launch, so VmHWM always holds
    // all of it: what the program adds is the peak resident memory outside
    // the heap plus the peak heap occupancy after a collection
    out("rss_hwm_kb") = procField("/proc/self/status", "VmHWM:")
    out("heap_committed_bytes") = heap.getCommitted
    out("heap_peak_after_gc_bytes") = HeapPeak.bytes
    out("records") = records.toSeq
    Files.writeString(Paths.get(a("out")), Json(out.toMap))
    println("DONE")
    System.out.flush()
  }

  /** `<entry object> <query>` lines for the whole registry. */
  private def registry(): String = {
    val parts = Seq("PipelineEntry" -> graft.PipelineEntry.queries,
      "ExtendedEntry" -> graft.ExtendedEntry.queries, "CorpusEntry" -> graft.CorpusEntry.queries,
      "AnalyticsEntry" -> graft.AnalyticsEntry.queries,
      "PlatformEntry" -> graft.PlatformEntry.queries, "TrainEntry" -> graft.TrainEntry.queries,
      "WebEntry" -> graft.WebEntry.queries, "MiningEntry" -> graft.MiningEntry.queries,
      "StatsEntry" -> graft.StatsEntry.queries, "SignalsEntry" -> graft.SignalsEntry.queries,
      "EvalEntry" -> graft.EvalEntry.queries)
    val others = parts.flatMap(_._2.keys).toSet
    val own = SparkEntry.queries.keys.filterNot(others).map("SparkEntry" -> _)
    (own.toSeq ++ parts.flatMap { case (e, m) => m.keys.map(e -> _) })
      .sortBy(_._2).map { case (e, q) => s"$e $q\n" }.mkString
  }

  /** The session every benchmark JVM uses; returns it with the confs set. */
  private def session(cpus: Int, data: String): (SparkSession, Map[String, String]) = {
    val inputBytes = Files.walk(Paths.get(data)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
    val confs = Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      // as graft.Bench: AQE can only coalesce, so start from the data size
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        math.max(cpus.toLong, inputBytes / (64L << 20)).toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> Paths.get("spark-local").toAbsolutePath.toString,
      "spark.sql.warehouse.dir" -> Paths.get("spark-warehouse").toAbsolutePath.toString)
    val b = SparkSession.builder().appName("graft-perfbench")
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    (spark, confs)
  }

  /** Bytes this process handed to storage (`write_bytes` of
    * /proc/self/io). Truncated dirty pages (`cancelled_write_bytes`) are
    * not subtracted: whether a temporary file dies before writeback is
    * timing, not work. */
  private def writtenBytes(): Long = procField("/proc/self/io", "write_bytes:")

  private def procField(file: String, key: String): Long =
    try Source.fromFile(file).getLines().find(_.startsWith(key))
      .map(_.stripPrefix(key).trim.split("\\s+")(0).toLong).getOrElse(0L)
    catch { case _: Exception => 0L }
}

/** The largest heap occupancy right after a young, mixed or full
  * collection over the JVM's life: the live set plus what the old
  * generation still holds. */
object HeapPeak {
  @volatile var bytes = 0L

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { bytes = math.max(bytes, used) }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
}

/** How fast this host runs a fixed piece of work right now: the thread CPU
  * time of a kernel that sorts 64K ints and sums values into a 128 KB
  * open-addressing table (branchy compute on data in the core's caches,
  * as in Spark's generated code). It does not touch Spark or graft, so a
  * change to them cannot move it; what moves it is the host. */
object HostSpeed {
  val PerOp = 4
  private val tmx = ManagementFactory.getThreadMXBean
  private val src = {
    var x = 0x9E3779B97F4A7C15L
    Array.fill(1 << 16) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; x.toInt }
  }
  private val buf = new Array[Int](src.length)
  private val keys = new Array[Int](1 << 14)
  private val sums = new Array[Long](1 << 14)
  @volatile private var sink = 0L

  def sample(): Double = {
    val t0 = tmx.getCurrentThreadCpuTime
    System.arraycopy(src, 0, buf, 0, src.length)
    java.util.Arrays.sort(buf)
    java.util.Arrays.fill(keys, -1)
    java.util.Arrays.fill(sums, 0L)
    var i = 0
    while (i < 4 * src.length) {
      val v = src(i & (src.length - 1))
      val k = (v ^ (v >>> 16)) & 8191
      var h = (k * 0x9E3779B1) >>> 18
      while (keys(h) != k && keys(h) != -1) h = (h + 1) & (keys.length - 1)
      keys(h) = k
      sums(h) += v
      i += 1
    }
    sink = sums(0) + buf(0)
    (tmx.getCurrentThreadCpuTime - t0) / 1e6
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
