package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed region: `run → query|cycle → phase`. Spark jobs are attached
  * afterwards to the innermost span whose window holds their start.
  * `probe` holds deltas of this JVM's synchronous counters over the span.
  */
final class Span(val id: Int, val parent: Int, val name: String, val kind: String) {
  val startMs: Long = System.currentTimeMillis()
  private val startNs = System.nanoTime()
  private val probe0 = Tracer.probe()
  var endMs: Long = Long.MaxValue
  var durMs: Double = 0.0
  val probe = mutable.LinkedHashMap.empty[String, Double]
  def close(): Unit = {
    durMs = (System.nanoTime() - startNs) / 1e6
    endMs = System.currentTimeMillis()
    Tracer.probe().foreach { case (k, v) => probe(k) = v - probe0(k) }
  }
  def contains(ms: Long): Boolean = ms >= startMs && ms <= endMs
}

/** Per-layer tracing from outside graft: a SparkListener (jobs, stages,
  * tasks and their metrics), a QueryExecutionListener (Catalyst phase
  * times and file scans of every executed action), Spark's codegen and
  * file-listing metric sources, and the JVM's management beans. Spans
  * stay in memory; `report` attributes jobs to spans once the listener
  * bus has drained.
  */
final class Tracer(spark: SparkSession) {
  private final case class Job(id: Int, startMs: Long, group: String) {
    @volatile var endMs: Long = -1
  }
  private final case class Qe(startMs: Long, analysis: Long, optimization: Long,
      planning: Long, scans: Int)

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  // completed stages with their task counts; summed task metrics per stage
  private val stageDone = new ConcurrentHashMap[Int, Int]()
  private val taskSums = new ConcurrentHashMap[Int, Array[Double]]()
  private val qes = new java.util.concurrent.ConcurrentLinkedQueue[Qe]()
  private val events = new AtomicLong(0)

  // indices into the per-stage task metric array
  private val TaskKeys = Seq("exec.run_ms", "exec.cpu_ms", "exec.gc_ms",
    "sched.deser_ms", "sched.launch_wait_ms", "sources.bytes_read",
    "sources.rows_read", "shuffle.write_bytes", "shuffle.read_bytes",
    "shuffle.fetch_wait_ms", "spill.disk_bytes", "spill.mem_bytes")

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val group = Option(j.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(j.jobId, Job(j.jobId, j.time, group))
      j.stageIds.foreach(s => stageJob.putIfAbsent(s, j.jobId))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      Option(jobs.get(j.jobId)).foreach(_.endMs = j.time)
    }
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
      events.incrementAndGet()
      s.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(s.stageInfo.stageId, t))
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      stageDone.put(s.stageInfo.stageId, s.stageInfo.numTasks)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        val wait = stageSubmitMs.asScala.get(t.stageId)
          .map(s => math.max(0L, t.taskInfo.launchTime - s)).getOrElse(0L)
        val v = Array[Double](m.executorRunTime, m.executorCpuTime / 1e6,
          m.jvmGCTime, m.executorDeserializeTime, wait,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled, m.memoryBytesSpilled)
        val acc = taskSums.computeIfAbsent(t.stageId, _ => new Array[Double](v.length))
        acc.synchronized { v.indices.foreach(i => acc(i) += v(i)) }
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      events.incrementAndGet()
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      val scans = try Tracer.scans(qe.executedPlan).size catch { case _: Throwable => 0 }
      qes.add(Qe(start, ms("analysis"), ms("optimization"), ms("planning"), scans))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  })

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  def span[T](name: String, kind: String)(body: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = new Span(spans.size, parent, name, kind)
    spans += s
    stack.push(s)
    try body finally { s.close(); stack.pop() }
  }

  /** Wait until the listener buses have been quiet for a while. */
  def drain(): Unit = {
    var last = -1L
    var quiet = 0
    while (quiet < 3) {
      Thread.sleep(100)
      val now = events.get()
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
  }

  private def innermost(ms: Long): Option[Span] =
    spans.filter(_.contains(ms)).maxByOption(s => (s.startMs, s.id))

  /** Listener-derived counters of every span (own jobs only). */
  private def attributed(): Map[Int, mutable.Map[String, Double]] = {
    val out = mutable.Map.empty[Int, mutable.Map[String, Double]]
    def add(s: Span, k: String, v: Double): Unit = {
      val m = out.getOrElseUpdate(s.id, mutable.Map.empty[String, Double])
      m(k) = m.getOrElse(k, 0.0) + v
    }
    val jobSpan = mutable.Map.empty[Int, Span]
    jobs.values.asScala.foreach { j =>
      innermost(j.startMs).foreach { s =>
        jobSpan(j.id) = s
        add(s, "sched.jobs", 1)
        if (j.group.isEmpty) add(s, "sched.ungrouped_jobs", 1)
        if (j.endMs >= j.startMs) add(s, "sched.job_ms", (j.endMs - j.startMs).toDouble)
      }
    }
    stageDone.asScala.foreach { case (stage, numTasks) =>
      Option(stageJob.get(stage)).flatMap(jobSpan.get).foreach { s =>
        add(s, "sched.stages", 1)
        add(s, "sched.tasks", numTasks.toDouble)
      }
    }
    taskSums.asScala.foreach { case (stage, v) =>
      Option(stageJob.get(stage)).flatMap(jobSpan.get).foreach { s =>
        TaskKeys.indices.foreach(i => add(s, TaskKeys(i), v(i)))
      }
    }
    qes.asScala.foreach { q =>
      innermost(q.startMs).foreach { s =>
        add(s, "catalyst.analysis_ms", q.analysis.toDouble)
        add(s, "catalyst.optimization_ms", q.optimization.toDouble)
        add(s, "catalyst.planning_ms", q.planning.toDouble)
        add(s, "sources.scans", q.scans.toDouble)
      }
    }
    out.toMap
  }

  /** Every span with its own listener-derived counters, plus for each
    * top-level span the inclusive totals of its subtree.
    */
  def report(): (Seq[Span], Map[Int, mutable.Map[String, Double]],
      Map[Int, Map[String, Double]]) = {
    drain()
    val own = attributed()
    val children = spans.groupBy(_.parent)
    def inclusive(s: Span): Map[String, Double] = {
      val mine = own.getOrElse(s.id, mutable.Map.empty[String, Double]).toMap
      children.getOrElse(s.id, Nil).map(inclusive).foldLeft(mine) { (acc, m) =>
        m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0.0) + v) }
      }
    }
    (spans.toSeq, own, spans.map(s => s.id -> inclusive(s)).toMap)
  }
}

object Tracer {
  private object Walk extends AdaptiveSparkPlanHelper

  def scans(plan: SparkPlan): Seq[SparkPlan] =
    Walk.collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s
      case b: BatchScanExec => b
    }

  /** Table names read by a plan's file scans (file name without suffix). */
  def tables(plan: SparkPlan): Seq[String] =
    Walk.collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.getName)
    }.flatten.map(_.stripSuffix(".parquet")).distinct

  /** Cumulative counters of this JVM, read synchronously. */
  def probe(): Map[String, Double] = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Map(
      "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6,
      "sources.files_listed" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount.toDouble,
      "jvm.gc_ms" -> gcs.map(_.getCollectionTime.max(0L)).sum.toDouble,
      "jvm.jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
      "jvm.classes_loaded" ->
        ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount.toDouble)
  }
}
