package graft.dag

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.Writer
import graft.sources.Tables

/** DAG orchestration — the reference's dependency graph with
  * topological execution and cycle detection (datanika
  * `services/dependency_service.py`, `services/dependency_check.py`,
  * `tasks/dependency_helpers.py`; the UI's DAG page executes
  * pipelines/transformations in topological order).
  *
  * Models are lazy DataFrame builders, so "executing" the DAG
  * composes ONE Catalyst plan across all models — the optimizer sees
  * through model boundaries (this is what dbt's ephemeral
  * materialization approximates with CTE inlining, and it is the
  * reason a 12-model pipeline doesn't write 11 intermediate tables).
  */
object Dag {

  /** dbt materializations (reference `models/transformation.py:10-15`
    * enumerates view / table / incremental / ephemeral / snapshot;
    * snapshot is `graft.ops.Snapshot`, driven by its own config).
    */
  sealed trait Materialization
  /** inlined into downstream plans; nothing persisted (dbt CTE inlining) */
  case object Ephemeral extends Materialization
  /** registered as a temp view; re-planned per reader */
  case object View extends Materialization
  /** persisted to the warehouse as parquet; readers scan the table */
  case object Table extends Materialization
  /** merged into the persisted table on unique_key (dbt incremental) */
  final case class Incremental(uniqueKey: Seq[String]) extends Materialization

  private val ModelNameRe = "^[A-Za-z_][A-Za-z0-9_-]*$".r

  final case class Model(
      name: String,
      deps: Seq[String],
      build: Map[String, DataFrame] => DataFrame,
      materialization: Materialization = Ephemeral) {
    // reference naming rule (transformation_service.validate_model_name)
    require(ModelNameRe.matches(name),
      s"Model name must start with a letter or underscore and contain only " +
        s"letters, digits, underscores, and hyphens: '$name'")
  }

  final class CycleError(msg: String) extends RuntimeException(msg)

  /** Kahn's algorithm; deterministic (name-ordered) among ready
    * nodes. Throws CycleError naming the cycle participants.
    */
  def topoSort(models: Seq[Model]): Seq[Model] = {
    val byName = models.map(m => m.name -> m).toMap
    models.foreach { m =>
      m.deps.foreach { d =>
        require(byName.contains(d), s"model ${m.name} depends on unknown model $d")
      }
    }
    var inDeg = models.map(m => m.name -> m.deps.size).toMap
    val dependents = models
      .flatMap(m => m.deps.map(d => d -> m.name))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val order = scala.collection.mutable.ArrayBuffer.empty[Model]
    var ready = models.filter(m => inDeg(m.name) == 0).map(_.name).sorted.toList
    while (ready.nonEmpty) {
      val n = ready.head
      ready = ready.tail
      order += byName(n)
      for (dep <- dependents.getOrElse(n, Nil).sorted) {
        val d = inDeg(dep) - 1
        inDeg += dep -> d
        if (d == 0) ready = (dep :: ready).sorted
      }
    }
    if (order.size != models.size) {
      val stuck = models.map(_.name).filterNot(order.map(_.name).toSet)
      throw new CycleError(s"dependency cycle among: ${stuck.sorted.mkString(", ")}")
    }
    order.toSeq
  }

  /** Build every model in topological order; returns name -> frame.
    * Frames stay lazy — callers materialize only the sinks they need.
    */
  def run(models: Seq[Model], inputs: Map[String, DataFrame] = Map.empty): Map[String, DataFrame] = {
    topoSort(models).foldLeft(inputs) { (built, m) =>
      built + (m.name -> m.build(built))
    }
  }

  // ---- graph selectors (reference dependency_service traversal; ----
  // ---- dbt's "+model" / "model+" selection syntax)               ----

  /** Transitive ancestor closure, including `name` itself. */
  def upstream(models: Seq[Model], name: String): Set[String] = {
    val byName = models.map(m => m.name -> m).toMap
    require(byName.contains(name), s"unknown model $name")
    def walk(n: String, acc: Set[String]): Set[String] =
      if (acc(n)) acc
      else byName(n).deps.foldLeft(acc + n)((a, d) => walk(d, a))
    walk(name, Set.empty)
  }

  /** Transitive descendant closure, including `name` itself. */
  def downstream(models: Seq[Model], name: String): Set[String] = {
    require(models.exists(_.name == name), s"unknown model $name")
    val dependents = models.flatMap(m => m.deps.map(_ -> m.name))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def walk(n: String, acc: Set[String]): Set[String] =
      if (acc(n)) acc
      else dependents.getOrElse(n, Nil).foldLeft(acc + n)((a, d) => walk(d, a))
    walk(name, Set.empty)
  }

  /** One model's comparable state for [[stateDiff]]: name, a content
    * hash of its definition (SQL text, config — whatever the caller
    * considers "the code"), and its dependency names.
    */
  final case class ModelState(name: String, contentHash: String,
      deps: Seq[String])

  /** dbt `state:modified+` — the selective-rebuild set from comparing
    * two registry states (the previous run's manifest vs the current
    * project): every model in the NEW state classifies as
    *   - `new`        not present before;
    *   - `modified`   content hash or dependency set changed;
    *   - `downstream` unchanged itself but transitively depends on a
    *                  new/modified model (stale by inheritance);
    *   - `unchanged`  safe to defer to the previous artifacts;
    * and models only in the OLD state report `removed` (artifact
    * cleanup, q109's territory). Pure metadata — registries are
    * project-sized; nothing scans.
    */
  def stateDiff(oldState: Seq[ModelState],
      newState: Seq[ModelState]): Seq[(String, String)] = {
    val om = oldState.map(m => m.name -> m).toMap
    val direct = newState.collect {
      case m if !om.contains(m.name) => m.name -> "new"
      case m if om(m.name).contentHash != m.contentHash ||
        om(m.name).deps.toSet != m.deps.toSet => m.name -> "modified"
    }.toMap
    val dependents = newState.flatMap(m => m.deps.map(_ -> m.name))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def walkDown(n: String, acc: Set[String]): Set[String] =
      dependents.getOrElse(n, Nil).foldLeft(acc) { (a, d) =>
        if (a(d)) a else walkDown(d, a + d)
      }
    val stale = direct.keys.foldLeft(Set.empty[String])(
      (a, n) => walkDown(n, a)) -- direct.keySet
    val current = newState.map { m =>
      m.name -> direct.getOrElse(m.name,
        if (stale(m.name)) "downstream" else "unchanged")
    }
    val removed = oldState.collect {
      case m if !newState.exists(_.name == m.name) => m.name -> "removed"
    }
    (current ++ removed).sortBy(_._1)
  }

  /** dbt-style selector: "+name" = name and its ancestors, "name+" =
    * name and its descendants, "+name+" = both, "name" = just name.
    * A selector string may carry MULTIPLE whitespace-separated parts
    * ("+stg_a mart_b+"), unioned — the shape the reference's
    * per-model upstream/downstream flags compile to
    * (pipeline_service.py:115-129 joins the parts with spaces).
    */
  def select(models: Seq[Model], selector: String): Set[String] = {
    val parts = selector.trim.split("\\s+").filter(_.nonEmpty)
    require(parts.nonEmpty, "empty selector")
    parts.iterator.map { part =>
      val up = part.startsWith("+")
      val down = part.endsWith("+")
      val name = part.stripPrefix("+").stripSuffix("+")
      (if (up) upstream(models, name) else Set.empty[String]) ++
        (if (down) downstream(models, name) else Set.empty[String]) ++ Set(name)
    }.reduce(_ ++ _)
  }

  /** Run only the selected models (plus the upstream inputs they need
    * to BUILD, which stay lazy/ephemeral — dbt's selected-subgraph run
    * where unselected parents resolve to existing relations). Returns
    * frames for the selected set only.
    */
  def runSelected(
      models: Seq[Model],
      selector: String,
      inputs: Map[String, DataFrame] = Map.empty): Map[String, DataFrame] = {
    val selected = select(models, selector)
    val needed = selected.flatMap(n => upstream(models, n))
    val subgraph = models.filter(m => needed(m.name))
    run(subgraph, inputs).view.filterKeys(selected).toMap
  }

  /** Build AND materialize every model per its materialization
    * (reference `services/dbt_project.py:171-175` writes model
    * config; dbt run then persists per materialization):
    *  - ephemeral: stays a lazy frame, inlined downstream
    *  - view: temp view + lazy frame (re-planned per reader)
    *  - table: written to `warehouseDir/<name>`, downstream reads the
    *    persisted parquet (cuts lineage, like dbt's table)
    *  - incremental: existing table merged with the batch on
    *    unique_key, rewritten, read back
    * Writes happen eagerly in topological order; each is one Spark
    * job, so independent subtrees pipeline on a busy cluster.
    *
    * @param fullRefresh dbt's --full-refresh: incremental models
    *                     rebuild from scratch instead of merging into
    *                     persisted state
    */
  def runMaterialized(
      spark: SparkSession,
      models: Seq[Model],
      warehouseDir: String,
      inputs: Map[String, DataFrame] = Map.empty,
      fullRefresh: Boolean = false): Map[String, DataFrame] = {
    topoSort(models).foldLeft(inputs) { (built, m) =>
      val frame = m.build(built)
      val path = s"$warehouseDir/${m.name}"
      val result = m.materialization match {
        case Ephemeral => frame
        case View =>
          frame.createOrReplaceTempView(m.name)
          frame
        case Table =>
          Writer.write(spark, frame, path, "replace")
          Tables.parquet(spark, path)
        case Incremental(uniqueKey) =>
          val disposition = if (fullRefresh) "replace" else "merge"
          Writer.write(spark, frame, path, disposition, uniqueKey)
          Tables.parquet(spark, path)
      }
      built + (m.name -> result)
    }
  }

  // ---- model removal lifecycle (reference dbt_project.remove_model,
  // ---- services/dbt_project.py:490-500: delete the model file; here
  // ---- the registered model AND its warehouse artifact)

  /** Deregister `name` from the model set and drop its persisted
    * warehouse artifact. Refuses while downstream models still
    * reference it — the reference deletes the .sql blindly and lets
    * the next dbt parse fail on the dangling ref(); failing eagerly
    * at removal time surfaces the same error without a broken
    * project state. Returns the remaining models.
    */
  def removeModel(
      spark: SparkSession,
      models: Seq[Model],
      name: String,
      warehouseDir: String): Seq[Model] = {
    require(models.exists(_.name == name), s"unknown model $name")
    val dependents = models.filter(_.deps.contains(name)).map(_.name)
    require(dependents.isEmpty,
      s"cannot remove $name: still referenced by ${dependents.sorted.mkString(", ")}")
    dropArtifact(spark, warehouseDir, name)
    models.filterNot(_.name == name)
  }

  /** Delete `warehouseDir/<name>` if present; true when it existed
    * (the reference's returns-True-if-file-existed contract).
    */
  def dropArtifact(spark: SparkSession, warehouseDir: String, name: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$warehouseDir/$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.delete(p, true)
  }
}
