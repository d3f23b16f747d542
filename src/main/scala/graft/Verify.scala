package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Runner.session(sfDir, "WARN")
    new java.io.File(outDir).mkdirs()
    // Dev-only narrowing (mirrors Bench): SPARK_GRAFT_VERIFY_ONLY=q141,q142
    // runs matching prefixes. The driver sets nothing → full dump.
    Runner.select(sys.env.getOrElse("SPARK_GRAFT_VERIFY_ONLY", "")).foreach { name =>
      Runner.run(spark, sfDir, name, "verify", failed = "failed")(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
