package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every registry main shares: the environment defaults, the
  * session, query selection, the warm-up and the timed per-query call.
  */
object Runner {

  /** The data directory: `SPARK_GRAFT_SF_DIR`, default sf0.1. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Local cores: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** [[Session.local]] at [[cpus]], sized for `dataDir`, logging at
    * `logLevel` and above. */
  def session(dataDir: String, logLevel: String): SparkSession = {
    val spark = Session.local(cpus, Some(dataDir))
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** The sorted registry names that start with any of the comma- or
    * space-separated `prefixes` (every name when there are none). A
    * `slice` of `i/k` keeps round-robin slice i of k, so each slice
    * mixes cheap and expensive queries.
    */
  def select(prefixes: String, slice: Option[String] = None): Seq[String] = {
    val ps = prefixes.split("[,\\s]+").filter(_.nonEmpty)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => ps.isEmpty || ps.exists(n.startsWith))
    slice.fold(names) { s =>
      val Array(i, k) = s.split("/").map(_.trim.toInt)
      require(k >= 1 && i >= 0 && i < k, s"slice i/k needs 0<=i<k: $s")
      names.zipWithIndex.collect { case (n, j) if j % k == i => n }
    }
  }

  /** Runs q01 once, so the first measured query is not charged for
    * JVM, codegen and parquet-reader start-up. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    try SparkEntry.queries("q01_full_scan_agg")(spark, sfDir).count()
    catch { case _: Throwable => }

  /** Builds registry query `name` and applies `action` to it. Returns
    * the seconds both took and whether they succeeded; a failure
    * prints `[tag] name <failed>: message` to stderr.
    */
  def run(spark: SparkSession, sfDir: String, name: String, tag: String,
      failed: String = "FAILED")(action: DataFrame => Unit): (Double, Boolean) = {
    val t0 = System.nanoTime()
    val ok =
      try { action(SparkEntry.queries(name)(spark, sfDir)); true }
      catch { case e: Throwable =>
        System.err.println(s"[$tag] $name $failed: ${e.getMessage}")
        false
      }
    ((System.nanoTime() - t0) / 1e9, ok)
  }
}
