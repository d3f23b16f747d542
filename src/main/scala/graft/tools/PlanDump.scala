package graft.tools

/** Diagnostic main dumping `.explain("formatted")` for registry
  * queries — the optimization-round evidence trail (plans/rNN/
  * <query>_before.txt / _after.txt). Not part of any gated artifact.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   SPARK_GRAFT_PLAN_OUT=plans/r14 SPARK_GRAFT_PLAN_SUFFIX=before \
  *     sbt -batch "runMain graft.tools.PlanDump q282,q341"
  *
  * Args are comma/space-separated query-name prefixes; no args dumps
  * every registry query. Uses the bench's session (graft.Runner), so
  * the dumped plan is the one the bench executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.Runner.sfDir
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_OUT", "plans/r14")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = graft.Runner.session(sfDir, "ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    graft.Runner.select(args.mkString(",")).foreach { name =>
      graft.Runner.run(spark, sfDir, name, "plandump") { df =>
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
      }
    }
    spark.stop()
  }
}
