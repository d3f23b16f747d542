package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Top principal component by power iteration over the distributed
  * covariance matrix — the "all-but-the-top" / PCA-whitening
  * companion to q288's isotropy audit (Mu & Viswanath 2018 remove
  * exactly this component to fix anisotropic embeddings): the corpus
  * reduces to d + d² exact sums in ONE pass (the only data-sized
  * work); the iteration then runs over the d²-row covariance table —
  * bounded by the embedding width, never by the corpus.
  *
  * Determinism (every step re-quantized so iterates cannot drift):
  * components 6dp-decimal at the scan; Σx and Σx_i·x_j exact
  * decimals; cov_q(i,j) = round((n·S2 − S1ᵢ·S1ⱼ)/n², 9); each
  * matrix-vector product term rounds to 12dp BEFORE the
  * order-independent decimal sum; each normalized component rounds
  * to 9dp. Both engines run the SAME chain (the SQL is generated
  * with the iteration count).
  *
  * Output per dimension: the unit loading after `iters` rounds plus
  * the Rayleigh eigen-share λ/trace(C) (the % of variance the
  * component explains).
  */
object PcaPower {

  /** Covariance entries (i, j, c) from `vecCol`, 9dp-quantized.
    *
    * Split-moment shape (r10): `n` and the first moments Σxᵢ are
    * PER-DIMENSION quantities — computing them per (i,j) (the r9
    * plan) dragged four decimal aggregates through the d²-row
    * aggregation hash when only Σxᵢ·xⱼ genuinely lives there. The
    * d-row first-moment table now comes from its own cheap pass
    * (d additions/row vs d² products) and broadcast-joins onto the
    * d²-row product sums — identical exact arithmetic, identical
    * 9dp outputs (per (i,j) group, sum(xi) ≡ s1ᵢ because every row
    * contributes one xi for each j; fixed-width vectors, the same
    * assumption the iteration and the oracle already make), 26%
    * less q318 wall-clock at d=64 (6.22s → 4.62s) and 43% at d=256
    * (73.7s → 42.0s, BASELINE.md r10).
    */
  private def covariance(df: DataFrame, vecCol: String): DataFrame = {
    val q = df.select(transform(col(vecCol),
      x => round(x.cast("double"), 6).cast("decimal(12,6)")).as("v"))
    // d rows: (i, n, s1) — barriered so both broadcast branches
    // share ONE computation instead of re-scanning the corpus
    val dims = graft.plans.Plans.barrier(
      q.select(posexplode(col("v")).as(Seq("i", "xi")))
        .groupBy("i")
        .agg(count(lit(1)).as("n"), sum(col("xi")).as("s1")))
    // d² rows through the agg, ONE decimal sum of the exact products
    val prods = q
      .select(posexplode(col("v")).as(Seq("i", "xi")), col("v"))
      .select(col("i"), col("xi"),
        posexplode(col("v")).as(Seq("j", "xj")))
      .groupBy("i", "j")
      .agg(sum(col("xi") * col("xj")).as("s2"))
    // no barrier here: topComponent barriers the returned cov table
    val sums = prods
      .join(broadcast(dims.select(col("i"), col("n"),
        col("s1").as("s1i"))), Seq("i"))
      .join(broadcast(dims.select(col("i").as("j"),
        col("s1").as("s1j"))), Seq("j"))
    sums.select(col("i"), col("j"),
      round((col("n").cast("double") * col("s2").cast("double") -
        col("s1i").cast("double") * col("s1j").cast("double")) /
        (col("n").cast("double") * col("n").cast("double")), 9)
        .cast("decimal(24,9)").as("c"))
  }

  /** Covariance entries via the native outer-product moments
    * aggregate (`functions.CovMoments` — the treeAggregate shape):
    * one tight d² loop per row instead of d² exploded rows through
    * the aggregation hash. Since r11 the aggregate accumulates
    * EXACT integers (6dp-quantized components, products at scale
    * 10⁻¹², 128-bit totals), so its moments are value-identical to
    * the exact-decimal explode path in ANY partition/merge order and
    * this projection — the same double chain as [[covariance]] over
    * the same exact values — lands bit-identical covariance entries:
    * the path is oracle-gateable (q329 gates it against the
    * exact-chain DuckDB SQL), and exact-vs-fast is purely a PLAN
    * choice, switched on width by [[ExactWidthCutoff]].
    */
  private def covarianceFast(df: DataFrame, vecCol: String): DataFrame = {
    val m = df.agg(graft.functions.CovMoments.covMoments(col(vecCol)).as("m"))
    m.select(col("m.n").as("n"), col("m.s1").as("s1"),
        posexplode(col("m.s2")).as(Seq("idx", "s2")))
      .select(
        (col("idx") / size(col("s1"))).cast("int").as("i"),
        pmod(col("idx"), size(col("s1"))).cast("int").as("j"),
        col("n"), col("s1"), col("s2"))
      .select(col("i"), col("j"),
        round((col("n").cast("double") * col("s2").cast("double") -
          element_at(col("s1"), col("i") + 1).cast("double") *
            element_at(col("s1"), col("j") + 1).cast("double")) /
          (col("n").cast("double") * col("n").cast("double")), 9)
          .cast("decimal(24,9)").as("c"))
  }

  /** Covariance-path switch point: at or below this width the auto
    * default takes the decimal d²-explode; above it the CovMoments
    * one-pass moments path. r14 re-measured the low end the r10
    * cutoff assumed was explode-friendly: at d=64 (sf0.1, min-of-3)
    * the moments path wins 1.0s vs 3.4s — the explode path's
    * rows × d² decimal multiplies dominate at EVERY width we can
    * measure (d=256: 42.0s vs 2.9s; BASELINE.md r10
    * row), so the cutoff is now 0 and the auto default always takes
    * the moments aggregate. Both paths produce IDENTICAL covariance
    * entries since the r11 exact-integer CovMoments (re-verified
    * r14: exceptAll diff 0 at d=64, q329's oracle gates d=256), so
    * the switch is pure plan choice; `exact = Some(true)` keeps the
    * decimal-explode twin reachable as the semantics oracle and for
    * spec pins.
    */
  val ExactWidthCutoff = 0

  /** The covariance-path decision (seam for the switch-point spec):
    * an explicit `exact` wins; otherwise exact iff the width of the
    * first vector is <= [[ExactWidthCutoff]]. Empty input AND a null
    * first vector default exact — there is nothing to be slow about
    * (the null guard is ADVICE r10: size(null) is null, and getInt on
    * it NPEs). The width probe is one limit-1 Spark job per
    * topComponent call — metadata-cheap, but callers in a tight loop
    * should pass `exact` explicitly to skip it. */
  private[graft] def resolveExact(
      df: DataFrame, vecCol: String, exact: Option[Boolean]): Boolean =
    exact.getOrElse {
      val w = df.select(size(col(vecCol)).as("w")).head(1)
      w.isEmpty || w.head.isNullAt(0) || w.head.getInt(0) <= ExactWidthCutoff
    }

  /** Run `iters` power-iteration rounds; returns per dim:
    * (d, loading, eig_share).
    *
    * `exact`: `Some(true)` forces the decimal-explode covariance,
    * `Some(false)` forces the CovMoments moments path, `None`
    * (default) auto-switches on the embedding width: exact iff
    * d <= [[ExactWidthCutoff]] (width read from one row — a limit-1
    * scan, not a pass). Both paths land identical covariance entries
    * (exact-integer moments since r11), so the choice is plan cost,
    * not semantics.
    */
  def topComponent(
      spark: SparkSession,
      df: DataFrame,
      vecCol: String,
      iters: Int = 5,
      exact: Option[Boolean] = None): DataFrame = {
    require(iters >= 1)
    val useExact = resolveExact(df, vecCol, exact)
    val cov = graft.plans.Plans.barrier(
      if (useExact) covariance(df, vecCol) else covarianceFast(df, vecCol))
    val dims = cov.select(col("i").as("d")).distinct()
    var v = dims.select(col("d"),
      lit(0.125).cast("decimal(20,9)").as("x"))
    // broadcast(v) in every iterate: v is d rows (bounded by the
    // embedding width, never the corpus), but the barrier'd iterate
    // carries no stats, so the planner shuffled the d²-row cov table
    // per round (r14 plan diff: SortMergeJoin+Exchange per iteration
    // → BroadcastHashJoin; one exchange per round — the groupBy —
    // instead of two).
    //
    // r15 (guide §1.2/§2.4): the norm rides an ALL-ROWS window over
    // the d-row w table instead of a separate scalar aggregate — the
    // r14 shape built broadcast(norm) as its own job, which re-ran
    // the join+groupBy a second time per round (w fed both the norm
    // agg and the iterate projection with no barrier between). One
    // single-partition window over ≤ d rows is width-bounded at any
    // data scale, and the decimal window sum is the same
    // order-independent exact sum the agg computed — identical
    // values, one job and one w computation per round instead of two.
    for (_ <- 1 to iters) {
      val w = cov.join(broadcast(v.select(col("d").as("j"), col("x"))),
          Seq("j"))
        .select(col("i"),
          round(col("c").cast("double") * col("x").cast("double"), 12)
            .cast("decimal(26,12)").as("t"))
        .groupBy("i").agg(sum(col("t")).as("w"))
      // quantize before squaring: w is DECIMAL(38,12) and a direct
      // w*w would hit the precision cap with engine-specific scale
      // reduction — the one place the chains could drift
      val nrm = sqrt(sum(round(col("w").cast("double") *
          col("w").cast("double"), 12).cast("decimal(30,12)"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy())
        .cast("double"))
      v = graft.plans.Plans.barrier(
        w.select(col("i").as("d"),
          when(nrm > 0,
            round(col("w").cast("double") / nrm, 9))
            .otherwise(0d).cast("decimal(20,9)").as("x")))
    }
    // Rayleigh quotient λ = vᵀCv and trace share (v broadcast — d rows)
    val cv = cov.join(broadcast(v.select(col("d").as("j"), col("x"))),
        Seq("j"))
      .select(col("i"),
        round(col("c").cast("double") * col("x").cast("double"), 12)
          .cast("decimal(26,12)").as("t"))
      .groupBy("i").agg(sum(col("t")).as("w"))
      .join(broadcast(v.select(col("d").as("i"), col("x"))), Seq("i"))
      .agg(sum(round(col("w").cast("double") * col("x").cast("double"),
        12).cast("decimal(26,12)")).as("lam"))
    val trace = cov.filter(col("i") === col("j"))
      .agg(sum(col("c")).as("tr"))
    v.crossJoin(broadcast(cv)).crossJoin(broadcast(trace))
      .select(col("d").cast("long").as("d"),
        col("x").cast("double").as("loading"),
        when(col("tr").cast("double") > 0,
          round(col("lam").cast("double") / col("tr").cast("double"),
            6)).as("eig_share"))
  }

  /** DuckDB restatement over `pca_vecs(vec)`; ends in
    * `pca_out(d, loading, eig_share)`. */
  def topComponentSql(iters: Int = 5): String = {
    require(iters >= 1)
    val rounds = (1 to iters).map { k =>
      s"""w$k AS (
         |  SELECT c.i,
         |    sum(CAST(round(CAST(c.c AS DOUBLE)
         |      * CAST(v${k - 1}.x AS DOUBLE), 12) AS DECIMAL(26,12)))
         |      AS w
         |  FROM pca_cov c JOIN v${k - 1} ON c.j = v${k - 1}.d
         |  GROUP BY c.i
         |), n$k AS (
         |  SELECT sqrt(CAST(sum(CAST(round(CAST(w AS DOUBLE)
         |    * CAST(w AS DOUBLE), 12) AS DECIMAL(30,12)))
         |    AS DOUBLE)) AS nrm FROM w$k
         |), v$k AS (
         |  SELECT w$k.i AS d,
         |    CAST(CASE WHEN n$k.nrm > 0 THEN
         |      round(CAST(w$k.w AS DOUBLE) / n$k.nrm, 9)
         |      ELSE 0 END AS DECIMAL(20,9)) AS x
         |  FROM w$k CROSS JOIN n$k
         |)""".stripMargin
    }.mkString(",\n")
    s"""pca_q AS (
       |  SELECT list_transform(vec,
       |    x -> CAST(round(CAST(x AS DOUBLE), 6) AS DECIMAL(12,6)))
       |    AS v
       |  FROM pca_vecs
       |), pca_pairs AS (
       |  SELECT ui.i, ui.xi, uj.j, uj.xj
       |  FROM (SELECT v, unnest(v) AS xi,
       |      unnest(range(0, len(v))) AS i FROM pca_q) ui,
       |    LATERAL (SELECT unnest(ui.v) AS xj,
       |      unnest(range(0, len(ui.v))) AS j) uj
       |), pca_cov AS (
       |  SELECT i, j,
       |    CAST(round((CAST(count(*) AS DOUBLE)
       |        * CAST(sum(xi * xj) AS DOUBLE)
       |      - CAST(sum(xi) AS DOUBLE) * CAST(sum(xj) AS DOUBLE))
       |      / (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE)),
       |      9) AS DECIMAL(24,9)) AS c
       |  FROM pca_pairs GROUP BY i, j
       |), v0 AS (
       |  SELECT DISTINCT i AS d, CAST(0.125 AS DECIMAL(20,9)) AS x
       |  FROM pca_cov
       |),
       |$rounds,
       |pca_cv AS (
       |  SELECT sum(CAST(round(CAST(w.w AS DOUBLE)
       |      * CAST(vf.x AS DOUBLE), 12) AS DECIMAL(26,12))) AS lam
       |  FROM (
       |    SELECT c.i,
       |      sum(CAST(round(CAST(c.c AS DOUBLE)
       |        * CAST(vf2.x AS DOUBLE), 12) AS DECIMAL(26,12))) AS w
       |    FROM pca_cov c JOIN v$iters vf2 ON c.j = vf2.d
       |    GROUP BY c.i) w
       |  JOIN v$iters vf ON w.i = vf.d
       |), pca_tr AS (
       |  SELECT sum(c) AS tr FROM pca_cov WHERE i = j
       |), pca_out AS (
       |  SELECT v.d, CAST(v.x AS DOUBLE) AS loading,
       |    CASE WHEN CAST(t.tr AS DOUBLE) > 0 THEN
       |      round(CAST(cv.lam AS DOUBLE) / CAST(t.tr AS DOUBLE), 6)
       |    END AS eig_share
       |  FROM v$iters v CROSS JOIN pca_cv cv CROSS JOIN pca_tr t
       |)""".stripMargin
  }
}
