package graft.tools

import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Diagnostic main profiling registry queries at the JOB/STAGE level —
  * the measure-first harness of the optimization rounds (guide §1):
  * for each query it reports wall seconds (min of N), the number of
  * Spark jobs the action fired (driver-synchronous round trips), the
  * number of stages (≈ exchanges + scans), total tasks, and summed
  * task time. High jobs ⇒ eager scalars / barriers / metadata scans;
  * high stages at fixed jobs ⇒ shuffle-heavy plans. `perfbench
  * --crosscheck` parses its `[profile]` lines.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt -batch "runMain graft.tools.StageProfile q341,q282"
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.Runner.sfDir
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "3").toInt.max(1)
    val spark = graft.Runner.session(sfDir, "ERROR")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          taskMs.addAndGet(t.taskMetrics.executorRunTime)
    })

    val names = graft.Runner.select(args.mkString(","))
    graft.Runner.warmUp(spark, sfDir)
    names.foreach { name =>
      val samples = (1 to runs).map { _ =>
        jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0L)
        val (sec, _) = graft.Runner.run(spark, sfDir, name, "profile")(_.count())
        // listener is async — give it a beat to drain
        Thread.sleep(150)
        (sec, jobs.get(), stages.get(), tasks.get(), taskMs.get())
      }
      println(line(name, samples))
    }
    spark.stop()
  }

  /** The `[profile]` line for one query's samples of (seconds, jobs,
    * stages, tasks, task ms): counts and task time of the fastest
    * sample, every sample's seconds, and — only when the samples
    * disagree on jobs/stages/tasks — every sample's counts as
    * `counts=jobs/stages/tasks,...` in run order, so a count that
    * changes between runs is not hidden behind the fastest one.
    */
  private[tools] def line(name: String,
      samples: Seq[(Double, Int, Int, Int, Long)]): String = {
    val best = samples.minBy(_._1)
    val counts = samples.map(s => s"${s._2}/${s._3}/${s._4}")
    val perSample =
      if (counts.distinct.size > 1) s" counts=${counts.mkString(",")}" else ""
    f"[profile] $name min=${best._1}%.3fs jobs=${best._2} " +
      s"stages=${best._3} tasks=${best._4} taskTimeMs=${best._5} " +
      s"runs=${samples.map(s => f"${s._1}%.2f").mkString(",")}$perSample"
  }
}
