package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** Shared local session for all suites (one JVM per `sbt test`). */
object SparkSpec {
  /** Fixed, not `SPARK_GRAFT_CPUS`: specs that assert partition counts
    * must not depend on the host. */
  val Cpus = 4
  lazy val session: SparkSession = Session.local(Cpus)
}

trait SparkSpec extends AnyFunSpec with Matchers {
  lazy val spark: SparkSession = SparkSpec.session
  System.setProperty("derby.stream.error.file", "target/derby.log")

  /** Names in `path`'s parent directory that `Vacuum` would sweep as
    * staged-swap or compaction debris. */
  def debrisNextTo(path: String): Seq[String] = {
    val parent = new org.apache.hadoop.fs.Path(path).getParent
    parent.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(parent).toSeq.map(_.getPath.getName)
      .filter(graft.ops.Vacuum.DebrisNameRe.pattern.matcher(_).matches())
  }
}
