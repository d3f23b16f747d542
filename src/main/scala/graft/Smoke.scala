package graft
/** Dev smoke main mirroring the driver's entry() rows>0 check. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    println(s"SMOKE rows=${df.count()}")
    df.show(10, false)
    spark.stop()
  }
}
