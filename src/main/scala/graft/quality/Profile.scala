package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column profiling for the catalog — the data-quality companion to
  * `Catalog.introspect`: per-column null/distinct/min/max/mean/
  * variance in ONE aggregate pass over the table (a 50-column profile
  * of a 100 TB table is a single scan with partial aggregation, plus
  * the one expand Spark inserts for multi-column DISTINCT counts).
  *
  * Mean/variance are computed from DECIMAL power sums (exact,
  * order-independent) and only then combined in double — so the
  * result is bit-reproducible across engines, unlike streaming
  * variance (Welford merges are partial-order-dependent in the last
  * bits).
  */
object Profile {

  /** Pearson correlation for column pairs — ONE aggregate pass for
    * any number of pairs, from decimal-exact power/cross sums (the
    * engine-native corr() merges partial moments in partial order,
    * which is not bit-reproducible; this is). Rows where either side
    * is null are excluded, per SQL corr. Constant columns → NULL.
    */
  def correlation(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "correlation needs at least one pair")
    def dec(c: Column) = c.cast("decimal(18,4)")
    val aggs = pairs.zipWithIndex.flatMap { case ((x, y), i) =>
      val both = col(x).isNotNull && col(y).isNotNull
      def m(c: Column) = when(both, c)
      Seq(
        sum(when(both, 1L)).as(s"n$i"),
        sum(m(dec(col(x)))).as(s"sx$i"),
        sum(m(dec(col(y)))).as(s"sy$i"),
        sum(m(dec(col(x)) * dec(col(y)))).as(s"sxy$i"),
        sum(m(dec(col(x)) * dec(col(x)))).as(s"sx2$i"),
        sum(m(dec(col(y)) * dec(col(y)))).as(s"sy2$i"))
    }
    val aggd = df.agg(aggs.head, aggs.tail: _*)
    aggd.select(explode(array(pairs.zipWithIndex.map { case ((x, y), i) =>
        val n = coalesce(col(s"n$i"), lit(0L)).cast("double")
        val sx = col(s"sx$i").cast("double")
        val sy = col(s"sy$i").cast("double")
        val sxy = col(s"sxy$i").cast("double")
        val sx2 = col(s"sx2$i").cast("double")
        val sy2 = col(s"sy2$i").cast("double")
        val dx = n * sx2 - sx * sx
        val dy = n * sy2 - sy * sy
        struct(lit(s"${x}__$y").as("pair"),
          n.cast("long").as("n_rows"),
          when(dx > 0 && dy > 0,
            (n * sxy - sx * sy) / sqrt(dx * dy)).as("corr"))
      }: _*)).as("r"))
      .select("r.*")
  }

  /** Profile numeric (or integral) columns. Returns one row per
    * column: (column_name, n_nonnull, n_null, n_distinct, min_v,
    * max_v, mean, var_samp).
    */
  def numeric(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    def dec(c: String) = col(c).cast("decimal(18,4)")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__n"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nn"),
        countDistinct(col(c)).as(s"${c}__nd"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"),
        sum(dec(c)).as(s"${c}__s1"),
        sum(dec(c) * dec(c)).as(s"${c}__s2"))
    }
    val aggd = df.agg(aggs.head, aggs.tail: _*)
    aggd.select(explode(array(cols.map { c =>
        val n = col(s"${c}__n")
        val s1 = col(s"${c}__s1").cast("double")
        val s2 = col(s"${c}__s2").cast("double")
        struct(lit(c).as("column_name"),
          n.as("n_nonnull"),
          coalesce(col(s"${c}__nn"), lit(0L)).cast("long").as("n_null"),
          col(s"${c}__nd").as("n_distinct"),
          col(s"${c}__min").as("min_v"),
          col(s"${c}__max").as("max_v"),
          (s1 / n).as("mean"),
          // SQL var_samp is NULL below 2 observations (the n-1
          // division would otherwise emit NaN/±Inf from cancellation)
          when(n > 1, (s2 - s1 * s1 / n) / (n - 1)).as("var_samp"))
      }: _*)).as("r"))
      .select("r.*")
  }

  /** Percentile profiling at scale: `percentile_approx` (Spark's
    * Greenwald-Khanna sketch — ONE pass, mergeable partials, bounded
    * memory; the only way to profile percentiles of a 100 TB column)
    * CONTRACT-checked in-line against the exact interpolated
    * percentile. Output, one row per (column, q):
    *
    *   (column_name, q, exact_v, approx_ok)
    *
    * `exact_v` is the type-1 discrete quantile — the element at rank
    * `max(1, ceil(q·n))` of the sorted non-null values. An element OF
    * the data, not an interpolation, so the cross-engine compare
    * (DuckDB `quantile_disc` uses the same convention) is bit-exact
    * with no float-formula coupling. `approx_ok` verifies the
    * sketch's published guarantee — the approx value's RANK sits
    * within `n / accuracy` of the target rank (GK bounds rank error,
    * not value error, so that is the honest check).
    *
    * The approx path is the 100 TB path (one pass, no sort). The
    * exact+check columns are the verification harness and cost a
    * per-column sort plus a second scan; production profiling at
    * scale calls `percentile_approx` alone and trusts the bound this
    * gate proves.
    */
  def quantiles(df: DataFrame, cols: Seq[String], qs: Seq[Double],
      accuracy: Int = 10000): DataFrame = {
    require(cols.nonEmpty && qs.nonEmpty, "quantiles needs columns and qs")
    require(qs.forall(q => q >= 0.0 && q <= 1.0), "q must be in [0,1]")
    val qArr = array(qs.map(lit): _*)
    val pass1 = cols.flatMap { c =>
      Seq(
        percentile_approx(col(c).cast("double"), qArr, lit(accuracy))
          .as(s"${c}__a"),
        count(col(c)).as(s"${c}__n"))
    }
    val counts = meltCounts(df, cols)
    // the two lanes are independent: the rank-hit chain derives its
    // bucket bounds and rank targets IN the plan from the counts
    // slice itself ([[planHits]]), so it waits on neither the sketch
    // scan nor the rank check that reads the sketch's values. The hit
    // lane materializes the lazy checkpoint; the rank check reuses
    // the checkpointed slice by RDD identity.
    val (hits, (first, ranks)) = lanes(df.sparkSession)({
      counts.count()
      planHits(counts, qs).collect()
    }) {
      val first = df.agg(pass1.head, pass1.tail: _*).head()
      val checks = rankChecks(first, cols, qs)
      (first, counts.agg(checks.head, checks.tail: _*).head())
    }
    val exactByQ = exactMap(hits, cols)

    val rows = cols.flatMap { c =>
      val n = first.getLong(first.fieldIndex(s"${c}__n"))
      val tol = n.toDouble / accuracy + 1
      qs.zipWithIndex.map { case (q, i) =>
        val target = math.max(1L, math.ceil(q * n).toLong)
        val exact = exactByQ(c).get(q)
        def get(name: String) = {
          val fi = ranks.fieldIndex(name)
          if (ranks.isNullAt(fi)) 0L else ranks.getLong(fi)
        }
        val lo = get(s"${c}__lo$i") + 1 // first rank the value occupies
        val hi = get(s"${c}__hi$i")     // last rank the value occupies
        val ok = n > 0 && hi >= lo &&
          target >= lo - tol && target <= hi + tol
        (c, q, exact, ok)
      }
    }
    df.sparkSession.createDataFrame(rows)
      .toDF("column_name", "q", "exact_v", "approx_ok")
  }

  /** The sketch rank check's aggregates over the (cn, v, cnt) slice: a
    * tied value occupies the rank INTERVAL [count(x < v) + 1,
    * count(x <= v)], so the sketch honors its bound iff that interval
    * comes within n/accuracy of the target rank (+1 for rank
    * convention). sum(cnt) over v < a equals a full-scan sum of
    * [x < a] row flags (nulls are absent here; NaN rows are present
    * but NaN < a and NaN <= a are both false, contributing the same
    * 0), so the check costs no scan of the raw table.
    */
  private def rankChecks(first: org.apache.spark.sql.Row,
      cols: Seq[String], qs: Seq[Double]): Seq[Column] =
    cols.flatMap { c =>
      // an all-null column has no sketch: emit empty interval (flag false)
      val approx = Option(first.getSeq[Any](first.fieldIndex(s"${c}__a")))
      qs.indices.flatMap { i =>
        approx match {
          case Some(a) =>
            Seq(
              sum(when(col("cn") === c && col("v") < lit(a(i)), col("cnt"))
                .otherwise(0L)).as(s"${c}__lo$i"),
              sum(when(col("cn") === c && col("v") <= lit(a(i)), col("cnt"))
                .otherwise(0L)).as(s"${c}__hi$i"))
          case None =>
            Seq(max(lit(0L)).as(s"${c}__lo$i"), max(lit(0L)).as(s"${c}__hi$i"))
        }
      }
    }

  /** Runs `a` on a new driver thread and `b` on the caller's, at the
    * same time, and returns both results. The new thread inherits the
    * caller's local properties when it is created, so the jobs of
    * both lanes carry the caller's job group, description and tags.
    * Each lane also tags its own jobs: when one lane throws, the
    * other lane's jobs are cancelled — again every 50 ms until that
    * lane returns, so a job it starts after the first cancel goes too
    * — and the first failure is rethrown. No job of either lane
    * outlives the call.
    */
  private def lanes[A, B](spark: org.apache.spark.sql.SparkSession)(a: => A)(
      b: => B): (A, B) = {
    val sc = spark.sparkContext
    val tag = s"graft-lane-${java.util.UUID.randomUUID()}"
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val bDone = new java.util.concurrent.CountDownLatch(1)
    def cancelUntil(laneTag: String, done: => Boolean): Unit =
      while (!done) { sc.cancelJobsWithTag(laneTag); Thread.sleep(50) }
    @volatile var resultA: Option[A] = None
    // created before the caller adds b's tag, so a does not inherit it
    val threadA = new Thread(() => {
      sc.addJobTag(s"$tag-a")
      try resultA = Some(a)
      catch {
        case e: Throwable =>
          failure.compareAndSet(null, e)
          cancelUntil(s"$tag-b", bDone.getCount == 0)
      }
    }, tag)
    threadA.setDaemon(true)
    threadA.start()
    sc.addJobTag(s"$tag-b")
    val resultB =
      try Some(b)
      catch {
        case e: Throwable =>
          failure.compareAndSet(null, e)
          None
      } finally {
        sc.removeJobTag(s"$tag-b")
        bDone.countDown()
      }
    if (resultB.isEmpty) cancelUntil(s"$tag-a", !threadA.isAlive)
    threadA.join()
    Option(failure.get).foreach(e => throw e)
    (resultA.get, resultB.get)
  }

  /** The barrier'd (cn, v, cnt) distinct-value slice of `cols`, one
    * melt+groupBy scan. Nulls drop; NaN STAYS (one row per column) so
    * that [[planHits]]' in-plan Σcnt equals count(col) — which counts
    * NaN — and the derived rank targets match the r14 literal
    * first-row form exactly. (na.drop would remove NaN too.)
    */
  private[quality] def meltCounts(df: DataFrame,
      cols: Seq[String]): DataFrame =
    graft.plans.Plans.barrier(
      df.select(explode(array(cols.map(c =>
          struct(lit(c).as("cn"), col(c).cast("double").as("v"))): _*)).as("p"))
        .select(col("p.cn"), col("p.v")).filter(col("p.v").isNotNull)
        .groupBy("cn", "v").agg(count(lit(1)).as("cnt")))

  /** Exact type-1 quantiles per column straight off an existing
    * (cn, v, cnt) distinct-value slice — ZERO scans of the raw table
    * (r15, guide §1.2): callers that already hold the slice (or can
    * DERIVE a new one from it, e.g. [[Outliers.medianMad]]'s
    * deviation distribution) skip the melt entirely. Materializes
    * the slice (it must be a [[graft.plans.Plans.barrier]]) and
    * collects the rank hits. Missing (column, q) — all-null column,
    * or rank beyond the data — is absent from the inner map.
    */
  private[quality] def exactByQFromCounts(counts: DataFrame,
      cols: Seq[String], qs: Seq[Double])
      : Map[String, Map[Double, Double]] = {
    counts.count()
    exactMap(planHits(counts, qs).collect(), cols)
  }

  /** hits rows (cn, q, v) → per-column q→value maps, every column of
    * `cols` present (possibly empty). */
  private def exactMap(rows: Array[org.apache.spark.sql.Row],
      cols: Seq[String]): Map[String, Map[Double, Double]] = {
    val byCol = rows.groupBy(_.getString(0))
    cols.map { c =>
      c -> byCol.getOrElse(c, Array.empty[org.apache.spark.sql.Row])
        .map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    }.toMap
  }

  /** The rank-hit chain over the checkpointed (cn, v, cnt) slice,
    * entirely in the plan: per-column bounds and row counts come from
    * the slice itself (`min(v)`/`max(v)` equal the raw column's
    * min/max because every distinct value is present; `Σ cnt` equals
    * `count(col)` because na.drop removed exactly the nulls), bucket
    * assignment is the same fixed-width monotone expression as the
    * r14 literal form (identical IEEE ops on identical inputs), the
    * running count is the two-phase [[graft.ops.PrefixSum]] scan, and
    * rank targets join back per column (broadcast — ≤ cols·|qs|
    * rows). A row emitted here satisfies `cum - cnt < t ≤ cum` for a
    * target t of ITS OWN column — exactly the rows the r14 literal
    * OR-filter could contribute to assembly (its cross-column extras
    * never matched assembly's per-column find). Each hit carries the
    * q its target came from, so assembly needs no recomputed targets:
    * output is (cn, q, v).
    */
  private def planHits(counts: DataFrame,
      qs: Seq[Double]): DataFrame = {
    val nBuckets = 64
    val bounds = counts.groupBy("cn").agg(
      min(col("v")).as("__lo"), max(col("v")).as("__hi"),
      sum(col("cnt")).as("__n"))
    // NaN __hi (any NaN value makes max NaN — NaN sorts LAST in
    // Spark's double ordering, exactly like max over the raw rows)
    // fails the > test and degrades width to 1.0; NaN VALUES are
    // excluded from the rank chain below, as the r14 melt's na.drop
    // excluded them — they count toward __n (rank targets) but can
    // never be an exact quantile value.
    val w = when(col("__hi") > col("__lo"),
      (col("__hi") - col("__lo")) / nBuckets).otherwise(lit(1.0))
    val bucketed = counts.filter(!isnan(col("v")))
      .join(broadcast(bounds), "cn")
      .withColumn("b",
        least(greatest(floor((col("v") - col("__lo")) / w).cast("long"),
          lit(0L)), lit(nBuckets - 1L)))
      .drop("__lo", "__hi", "__n")
    // a value with running count cum occupies ranks (cum-cnt, cum]
    val cum = graft.ops.PrefixSum.cumBefore(bucketed,
        partCols = Seq("cn"), bucketCol = "b", bucketDesc = false,
        orderIntra = Seq(col("v")),
        vals = Seq((col("cnt"), "cum_before")),
        broadcastOffs = true)
      .withColumn("cum", col("cum_before") + col("cnt"))
    val targets = bounds.select(col("cn").as("__tcn"),
      explode(array(qs.map(q => struct(lit(q).as("__q"),
        greatest(ceil(lit(q) * col("__n")), lit(1L)).cast("long")
          .as("__t"))): _*)).as("p"))
      .select(col("__tcn"), col("p.__q").as("__q"), col("p.__t").as("__t"))
    cum.join(broadcast(targets),
        col("cn") === col("__tcn") &&
          col("cum") >= col("__t") && (col("cum") - col("cnt")) < col("__t"))
      .select(col("cn"), col("__q").as("q"), col("v"))
  }

  /** Exact type-1 quantiles ONLY — the harness half of [[quantiles]]
    * without the GK sketch or its rank-error gate, for callers that
    * consume `exact_v` alone (e.g. [[Outliers.medianMad]]): the
    * sketch aggregate and the whole rank-check scan disappear
    * (nothing to check), and since r15b the bounds scan too — the
    * hit chain derives bounds and targets in-plan ([[planHits]]), so
    * the raw table is scanned exactly ONCE (the melt). One row per
    * (column, q): (column_name, q, exact_v) — values identical to
    * [[quantiles]]'s `exact_v`.
    */
  def exactQuantiles(df: DataFrame, cols: Seq[String],
      qs: Seq[Double]): DataFrame = {
    require(cols.nonEmpty && qs.nonEmpty, "quantiles needs columns and qs")
    require(qs.forall(q => q >= 0.0 && q <= 1.0), "q must be in [0,1]")
    val byQ = exactByQFromCounts(meltCounts(df, cols), cols, qs)
    val rows = cols.flatMap(c => qs.map(q => (c, q, byQ(c).get(q))))
    df.sparkSession.createDataFrame(rows)
      .toDF("column_name", "q", "exact_v")
  }
}
