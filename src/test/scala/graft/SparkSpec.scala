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
}
