package graft.quality

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generic data tests — the reference's dbt test set {not_null,
  * unique, accepted_values, relationships} (datanika
  * `services/transformation_service.py:148-188` validates the config;
  * dbt executes them as SQL).
  *
  * Each check compiles to one aggregate over the table — a partial
  * (map-side) aggregation followed by a scalar, so a check on a
  * 100 TB table is a single scan with pushed-down projection of the
  * tested column only.
  *
  * Violation counts follow dbt's SQL semantics:
  *  - not_null: rows where col IS NULL
  *  - unique: distinct values occurring more than once
  *  - accepted_values: rows where col NOT IN (...) (nulls pass,
  *    as in SQL NOT IN)
  *  - relationships: non-null child values with no matching parent
  */
object Checks {

  def relationships(df: DataFrame, column: String, to: DataFrame, field: String): DataFrame = {
    // broadcast the parent keyset when it is a dimension; Catalyst
    // will still pick SMJ if the parent side is huge
    val parents = to.select(col(field).as(column)).distinct()
    result("relationships", column,
      df.filter(col(column).isNotNull)
        .join(parents, Seq(column), "left_anti")
        .agg(count(lit(1))))
  }

  private def result(check: String, column: String, agg: DataFrame): DataFrame =
    agg.select(lit(check).as("check_name"), lit(column).as("column_name"),
      col(agg.columns.head).cast("long").as("violations"))

  private val resultSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("check_name",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("column_name",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("violations",
      org.apache.spark.sql.types.LongType)))

  /** Run a tests_config-shaped map (column -> tests), mirroring the
    * reference's per-column config dict. Returns one row per check.
    *
    * Scan discipline: every not_null / accepted_values check across
    * ALL columns compiles into ONE aggregate pass (conditional sums)
    * — a 10-check config is one scan of the table, not 10. `unique`
    * needs a per-column groupBy (one extra pass per unique-checked
    * column) and `relationships` an anti-join per parent — those are
    * irreducible shuffles, not extra scans of unrelated columns.
    */
  def run(df: DataFrame, config: Map[String, Seq[CheckSpec]]): DataFrame = {
    val ordered = config.toSeq.sortBy(_._1)

    // (check_name, column, conditional-count expression) — fused scan
    val scalar = ordered.flatMap { case (column, specs) =>
      specs.collect {
        case NotNull =>
          ("not_null", column, sum(when(col(column).isNull, 1L).otherwise(0L)))
        case AcceptedValues(vs) =>
          ("accepted_values", column,
            sum(when(!col(column).isin(vs: _*), 1L).otherwise(0L)))
      }
    }
    val fused: Option[DataFrame] =
      if (scalar.isEmpty) None
      else {
        val aggd = df.agg(scalar.head._3.as("c0"),
          scalar.tail.zipWithIndex.map { case ((_, _, e), i) => e.as(s"c${i + 1}") }: _*)
        val rows = scalar.zipWithIndex.map { case ((check, column, _), i) =>
          struct(lit(check).as("check_name"), lit(column).as("column_name"),
            coalesce(col(s"c$i"), lit(0L)).cast("long").as("violations"))
        }
        Some(aggd.select(explode(array(rows: _*)).as("r")).select("r.*"))
      }

    // ALL unique checks fuse into one scan too: explode each tested
    // column as a (column_name, value) pair, one groupBy counts
    // duplicates for every column at once. String-cast is per-column
    // injective EXCEPT for float ±0.0 (Spark aggregation normalizes
    // 0.0 == -0.0 but they stringify differently), so floats are
    // normalized with + 0.0 before the cast.
    val uniqueCols = ordered.collect {
      case (c, specs) if specs.contains(Unique) => c
    }
    def groupable(c: String): org.apache.spark.sql.Column =
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType => col(c) + lit(0.0)
        case _ => col(c)
      }
    val fusedUnique: Option[DataFrame] =
      if (uniqueCols.isEmpty) None
      else {
        val tagged = df
          .select(explode(array(uniqueCols.map(c =>
            struct(lit(c).as("column_name"), groupable(c).cast("string").as("v"))): _*))
            .as("p"))
          .select("p.*")
          .filter(col("v").isNotNull)
          .groupBy("column_name", "v").agg(count(lit(1)).as("n"))
          .filter(col("n") > 1)
          .groupBy("column_name").agg(count(lit(1)).as("violations"))
        // reinstate zero-violation columns dropped by the filter
        val expected = df.sparkSession.createDataFrame(
          uniqueCols.map(c => org.apache.spark.sql.Row(c)).asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("column_name",
              org.apache.spark.sql.types.StringType, nullable = false))))
        Some(expected.join(tagged, Seq("column_name"), "left")
          .select(lit("unique").as("check_name"), col("column_name"),
            coalesce(col("violations"), lit(0L)).cast("long").as("violations")))
      }

    val grouped = ordered.flatMap { case (column, specs) =>
      specs.collect {
        case Relationships(to, field) => relationships(df, column, to, field)
      }
    }

    (fused.toSeq ++ fusedUnique.toSeq ++ grouped)
      .reduceOption(_.unionByName(_))
      .getOrElse(df.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), resultSchema))
  }

  sealed trait CheckSpec
  case object NotNull extends CheckSpec
  case object Unique extends CheckSpec
  final case class AcceptedValues(values: Seq[Any]) extends CheckSpec
  final case class Relationships(to: DataFrame, field: String) extends CheckSpec

  /** dbt test severity: a failing test with severity `warn` warns
    * instead of erroring (dbt `config(severity=...)`). Applied to a
    * `run` result; unconfigured checks default to `error`.
    */
  def withStatus(
      results: DataFrame,
      severity: Map[(String, String), String] = Map.empty): DataFrame = {
    val sev = severity.foldLeft(lit("error")) {
      case (e, ((check, column), s)) =>
        when(col("check_name") === check && col("column_name") === column, s)
          .otherwise(e)
    }
    results
      .withColumn("severity", sev)
      .withColumn("status",
        when(col("violations") === 0, "pass").otherwise(col("severity")))
  }
}
