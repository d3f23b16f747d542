package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** Keeps one session builder, a fixed set of mains, one
  * materialization primitive and one way to replace a path: every
  * session comes from `Session.local`, no one-off diagnostic main
  * creeps back into `src/`, only `graft.plans.Plans` persists, caches
  * or checkpoints a DataFrame in `src/main`, and only `StagedSwap`
  * renames a path there (besides `VersionedTable`'s put-if-absent log
  * commits and the q63 seed fixture). KLL and theta sketches are
  * Spark's own functions: no `src/main` file touches DataSketches'
  * theta classes, and only `SketchAgg` (for its rank-error bound) its
  * KLL ones. Text kernels have one implementation each: every
  * lowercase `\s+` token array is the native `TextHashes.wordNgrams`
  * and every DuckDB restatement of it is `TextHashes.wordTokensSql`,
  * and the removed xxhash SimHash, imperative function registration
  * and barrier-bypass switch stay gone. Parquet is read only by
  * `Tables.parquet`, which takes schemas from footers on the driver.
  * Comment lines are ignored; code is not.
  */
class SourceGuardSpec extends AnyFunSpec with Matchers {

  private val root = Paths.get("src")

  private val keptMains = Set(
    "main/scala/graft/Bench.scala",
    "main/scala/graft/Verify.scala",
    "main/scala/graft/Smoke.scala",
    "main/scala/graft/tools/StageProfile.scala",
    "main/scala/graft/tools/ProbeBench.scala",
    "main/scala/graft/tools/PlanDump.scala")

  private val renamers = Set(
    "main/scala/graft/ops/StagedSwap.scala",
    "main/scala/graft/ops/VersionedTable.scala",
    "main/scala/graft/ExtendedEntry.scala")

  private val Builder = """SparkSession\s*\.\s*builder"""
  private val Main = """\bdef\s+main\s*\("""
  private val Materialize =
    """\.\s*(persist|unpersist|localCheckpoint)\s*\(|\.\s*cache\s*\(\s*\)"""
  private val Rename = """\.\s*rename\s*\("""
  private val ParquetRead =
    """\bread\s*\.\s*(parquet\s*\(|format\s*\(\s*"parquet"\s*\))"""
  private val ThetaLib = """\borg\.apache\.datasketches\.theta\b"""
  private val KllLib = """\borg\.apache\.datasketches\.kll\b"""
  private val HofTokenizer = """split\s*\(\s*lower\s*\(.*"\\\\s\+"""
  private val SqlTokenizer = """string_split_regex\s*\(\s*lower\s*\("""
  private val RemovedTwins =
    """(?<![A-Za-z])(SimHash64|simhash64|registerFunction|explainMode)\b"""

  /** Source path relative to `src/` (with `/` separators) → code. */
  private lazy val sources: Map[String, String] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => relative(p) -> codeLines(Files.readString(p)))
      .toMap
    finally walk.close()
  }

  private def relative(p: Path): String =
    root.relativize(p).iterator().asScala.mkString("/")

  /** `code` less its comment lines: those whose trimmed text starts with
    * a line-comment, block-comment or Scaladoc marker. Line by line, so a
    * comment marker inside a string literal cannot hide the code after it.
    */
  private def codeLines(code: String): String =
    code.linesIterator.filterNot { line =>
      val t = line.trim
      t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")
    }.mkString("\n")

  private def found(pattern: String, code: String): Boolean =
    pattern.r.findFirstIn(code).isDefined

  private def filesMatching(pattern: String): Set[String] =
    sources.collect { case (f, code) if found(pattern, code) => f }.toSet

  describe("src/") {
    it("is where the guard looks") {
      Files.isDirectory(root) shouldBe true
      sources.keySet should contain("main/scala/graft/Session.scala")
    }
    it("builds sessions only in Session.scala") {
      filesMatching(Builder) shouldBe Set("main/scala/graft/Session.scala")
    }
    it("has no mains beyond the kept ones") {
      filesMatching(Main) shouldBe keptMains
    }
    it("materializes DataFrames only in plans/Plans.scala") {
      filesMatching(Materialize).filter(_.startsWith("main/")) shouldBe
        Set("main/scala/graft/plans/Plans.scala")
      filesMatching("""\bStorageLevel\b""").filter(_.startsWith("main/")) shouldBe
        empty
    }
    it("renames paths only in StagedSwap, VersionedTable and the q63 fixture") {
      filesMatching(Rename).filter(_.startsWith("main/")) shouldBe renamers
    }
    it("reads parquet only in Tables.parquet") {
      filesMatching(ParquetRead).filter(_.startsWith("main/")) shouldBe
        Set("main/scala/graft/sources/Tables.scala")
    }
    it("uses DataSketches theta and KLL only through Spark's functions, " +
        "besides SketchAgg's rank-error bound") {
      filesMatching(ThetaLib).filter(_.startsWith("main/")) shouldBe empty
      filesMatching(KllLib).filter(_.startsWith("main/")) shouldBe
        Set("main/scala/graft/functions/SketchAgg.scala")
    }
    it("tokenizes text one way: the native wordNgrams in Scala, " +
        "wordTokensSql in the oracle SQL, and keeps no kernel twins") {
      filesMatching(HofTokenizer).filter(_.startsWith("main/")) shouldBe empty
      filesMatching(SqlTokenizer).filter(_.startsWith("main/")) shouldBe
        Set("main/scala/graft/functions/TextHashExprs.scala")
      filesMatching(RemovedTwins).filter(_.startsWith("main/")) shouldBe empty
    }
  }

  describe("the comment filter") {
    // split so that this file does not itself hold the patterns
    val builder = "SparkSession" + ".builder()"
    val main = "def " + "main(args: Array[String]): Unit = ()"
    it("sees code after a comment marker inside a string literal") {
      val code = s"""val rules = "Disallow: /articles/*7$$"\nval s = $builder.getOrCreate()\n$main\n"""
      found(Builder, codeLines(code)) shouldBe true
      found(Main, codeLines(code)) shouldBe true
    }
    it("sees every materialization call form, but not in comments") {
      val calls = Seq("df.persist()", "df.cache()", "df.unpersist()",
        "df.localCheckpoint(eager = false)", "df\n  .persist(level)")
      calls.filterNot(c => found(Materialize, codeLines(s"val x = $c"))) shouldBe empty
      found(Materialize, codeLines("// df.persist()\n * df.cache()")) shouldBe false
      found(Materialize, codeLines("val cache = Cache.cached()")) shouldBe false
    }
    it("sees every rename call form, but not in comments") {
      val calls = Seq("fs.rename(a, b)", "fs\n  .rename(a, b)", "fs . rename (a, b)")
      calls.filterNot(c => found(Rename, codeLines(s"val ok = $c"))) shouldBe empty
      found(Rename, codeLines("// fs.rename(a, b)\n * fs.rename(a, b)")) shouldBe false
      found(Rename, codeLines("df.withColumnRenamed(a, b).renamed(c)")) shouldBe false
    }
    it("sees every parquet read form, but not writes or comments") {
      val reads = Seq("spark.read.parquet(p)", "s.read\n  .parquet(a, b)",
        "spark.read.format(\"parquet\").load(p)", "spark.read . format( \"parquet\" )")
      reads.filterNot(c => found(ParquetRead, codeLines(s"val df = $c"))) shouldBe empty
      found(ParquetRead, codeLines("// spark.read.parquet(p)\n * s.read.parquet(p)")) shouldBe false
      found(ParquetRead, codeLines("df.write.parquet(p); df.write.format(\"parquet\")")) shouldBe
        false
      found(ParquetRead, codeLines("spark.read.format(\"csv\").load(p)")) shouldBe false
    }
    it("sees every tokenizer form, but not the space split or comments") {
      val hof = Seq("filter(split(lower(c), \"\\\\s+\"), t => length(t) > 0)",
        "split(lower(col(textCol)), \"\\\\s+\")",
        "split( lower(col(\"text\")) , \"\\\\s+\")")
      hof.filterNot(c => found(HofTokenizer, codeLines(s"val t = $c"))) shouldBe empty
      found(HofTokenizer, codeLines("val t = split(lower(c), \" \")")) shouldBe false
      val sql = "string_split_regex" + "(lower(text), '\\s+')"
      found(SqlTokenizer, codeLines(s"  |  SELECT $sql")) shouldBe true
      found(SqlTokenizer, codeLines(s"// $sql")) shouldBe false
    }
    it("ignores line and block comments") {
      val code = s"// $builder\n/* $main\n * $builder\n */\nval x = 1\n"
      found(Builder, codeLines(code)) shouldBe false
      found(Main, codeLines(code)) shouldBe false
    }
  }
}
