package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.functions._

import graft.functions.TextHashExprs

/** Deterministic sampling operators.
  *
  * Random `df.sample()` is non-reproducible across retries and
  * engines; pipeline sampling wants the same rows every run (so
  * downstream caches, oracles, and A/B slices stay stable). Both
  * operators here are pure pushdown-friendly row predicates — no
  * shuffle, no RNG state, and at 100 TB the filter evaluates inside
  * the scan.
  */
object Sampling {

  /** Systematic 1-in-`every` sample on an integral key. */
  def systematic(df: DataFrame, keyCol: String, every: Long): DataFrame = {
    require(every >= 1, "every must be >= 1")
    df.filter(pmod(col(keyCol), lit(every)) === 0)
  }

  /** Stratified systematic sample: per-stratum `every` denominators
    * with a default for unlisted strata — the dbt/utils-style
    * "sample N% of each segment" reproducibly.
    */
  def stratified(
      df: DataFrame,
      strataCol: String,
      keyCol: String,
      every: Map[String, Long],
      defaultEvery: Long): DataFrame = {
    require((defaultEvery +: every.values.toSeq).forall(_ >= 1), "every must be >= 1")
    val denom = every.toSeq.sortBy(_._1).foldLeft(lit(defaultEvery)) {
      case (e, (s, d)) => when(col(strataCol) === s, lit(d)).otherwise(e)
    }
    df.filter(pmod(col(keyCol), denom) === 0)
  }

  /** Neyman allocation for stratified sampling (Neyman 1934): split
    * a sample budget across strata ∝ N_h·σ_h, so variable strata get
    * proportionally more rows and near-constant strata almost none —
    * the statistically efficient version of the flat rates q53's
    * `stratified` then executes. Reports per stratum the population,
    * the sd, the allocation, and the implied sampling rate.
    *
    * Exactness: per-stratum moments (n, Σv, Σv²) ride exact decimals
    * in ONE partial-aggregated pass (q189's discipline; Σv² on
    * DECIMAL(38,12)); sd/weight/allocation is then a fixed double
    * chain — sqrt is IEEE-correctly-rounded so it's engine-portable.
    * Allocations are independently rounded (they may sum to
    * budget±strata/2; use largest-remainder downstream if the total
    * must be exact) and capped at N_h. Single-row or zero-variance
    * strata get weight 0 and allocation 0.
    */
  def neymanAllocation(df: DataFrame, strataCol: String,
      valueCol: String, budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val m = df
      .select(col(strataCol).as("stratum"),
        col(valueCol).cast("decimal(18,6)").as("v"))
      .groupBy("stratum")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum(col("v") * col("v")).as("q"))
    val nD = col("n").cast("double")
    val varU = (col("q").cast("double") -
      col("s").cast("double") * col("s").cast("double") / nD) / (nD - 1)
    val sd = when(col("n") >= 2 && varU > 0, sqrt(varU)).otherwise(lit(0.0))
    // weights quantize to 6dp decimals BEFORE the total: a raw
    // double Σw would be partial-order-dependent
    val weighted = m.withColumn("w",
      round(nD * sd, 6).cast("decimal(28,6)"))
    val tot = weighted.agg(sum(col("w")).as("tw"))
    val wD = col("w").cast("double")
    val twD = col("tw").cast("double")
    weighted.crossJoin(broadcast(tot))
      .withColumn("alloc",
        when(twD > 0,
          least(col("n"),
            round(lit(budget.toDouble) * wD / twD, 0).cast("long")))
          .otherwise(lit(0L)))
      .select(col("stratum"), col("n").as("n_rows"),
        round(sd, 6).as("sd"),
        when(twD > 0, round(wD / twD, 6))
          .otherwise(lit(0.0)).as("alloc_share"),
        col("alloc").as("n_alloc"),
        round(col("alloc").cast("double") / nD, 6).as("sampling_rate"))
  }

  /** Hash-fraction sample for keys with non-uniform spacing (string
    * ids, clustered longs): keep rows whose key hash lands in the
    * first `fraction` of the hash space. Deterministic, uniform, and
    * consistent across tables sharing the key — the production path
    * when modulo structure in the key would bias `systematic`.
    * (xxhash64 is engine-specific, so no SQL oracle — covered by the
    * ScalaTest spec instead.)
    */
  def hashFraction(df: DataFrame, keyCols: Seq[String], fraction: Double): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction in [0,1]")
    val buckets = 1000000L
    df.filter(pmod(xxhash64(keyCols.map(col): _*), lit(buckets)) <
      lit((fraction * buckets).toLong))
  }

  /** Per-key contribution cap — "keep at most `cap` documents per
    * domain", the C4/RefinedWeb-style guard against a single giant
    * host dominating the training mix (reference behavior covered:
    * datanika's sampling family extended with the keyed-cap variant
    * every crawl pipeline applies after URL canonicalization).
    *
    * Selection is deterministic: the `cap` rows with the smallest
    * `(mix30(id), id)` per key survive — pseudorandom (so the kept
    * subset is unbiased w.r.t. crawl order) yet identical across
    * runs and engines, which keeps the oracle exact and downstream
    * caches stable.
    *
    * 100 TB shape: the naive single `row_number() OVER (PARTITION BY
    * key)` funnels a mega-domain (a third of CommonCrawl can be one
    * blog host) into ONE task's sort. Instead, two-stage salted
    * top-k: stage 1 partitions the window by `(key, salt)` with
    * salt = priority % saltBuckets, so the mega-key's rows spread
    * over `saltBuckets` tasks and each sub-group keeps its own
    * smallest `cap`; any row in the key's GLOBAL smallest `cap`
    * under the total order `(priority, id)` is necessarily within
    * the smallest `cap` of its salt bucket, so stage 1 loses no
    * survivor (classic salted top-k, exact). Stage 2 re-ranks the
    * ≤ saltBuckets·cap survivors per key — metadata-sized however
    * big the key is. Rows ship once (the stage-1 exchange); the
    * stage-2 exchange carries only survivors.
    */
  def capPerKey(df: DataFrame, keyCol: String, idCol: String,
      cap: Int, saltBuckets: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(cap >= 1, "cap must be >= 1")
    require(saltBuckets >= 1, "saltBuckets must be >= 1")
    val salted = df
      .withColumn("_cap_pri", mix30(col(idCol)))
      .withColumn("_cap_salt", pmod(col("_cap_pri"), lit(saltBuckets.toLong)))
    val w1 = Window.partitionBy(col(keyCol), col("_cap_salt"))
      .orderBy(col("_cap_pri"), col(idCol))
    val w2 = Window.partitionBy(col(keyCol))
      .orderBy(col("_cap_pri"), col(idCol))
    salted
      .withColumn("_cap_rn", row_number().over(w1))
      .filter(col("_cap_rn") <= cap) // the filter BETWEEN the windows
      // is what makes stage 2 see ≤ saltBuckets·cap rows per key —
      // without it the mega-key's full sort returns in one task
      .withColumn("_cap_rk", row_number().over(w2))
      .filter(col("_cap_rk") <= cap)
      .drop("_cap_pri", "_cap_salt", "_cap_rn", "_cap_rk")
  }

  /** Weighted-sampling score (Efraimidis–Spirtakis A-ES, Inf. Proc.
    * Lett. 2006): draw u ∈ (0,1] deterministically from mix30(key)
    * and score r = u^(1/w); the k LARGEST r are exactly a weighted
    * sample without replacement ("sample 100 docs ∝ token count").
    *
    * The score is a pure scan-level expression — no RNG state, no
    * shuffle of the corpus; callers take the top-k with
    * orderBy(desc).limit(k), which Spark plans as TakeOrdered
    * (per-partition heaps + a k·P-row driver merge). Rounded to 9dp
    * so a 1-ulp pow() difference between engines cannot flip ranks
    * except on exact ties, which break on the key.
    */
  def weightedSampleKey(key: Column, weight: Column): Column = {
    val u = (mix30(key) + lit(1L)).cast("double") / lit(1073741790.0)
    round(pow(u, lit(1.0) / weight), 9)
  }

  /** SQL text of the same score, for oracle authorship. */
  def weightedSampleKeySql(key: String, weight: String): String =
    s"round(pow((${mix30Sql(key)} + 1) / CAST(1073741790 AS DOUBLE), " +
      s"CAST(1.0 AS DOUBLE) / $weight), 9)"

  /** Cross-engine deterministic 30-bit avalanche of a non-negative
    * integral column — TextHashExprs.mix30 as a Column, built from
    * `TextHashExprs.mix30Expr` (xor-shift + multiply mod the largest
    * prime < 2³⁰, twice). Every intermediate fits signed 64-bit, so
    * ANSI Spark and DuckDB BIGINT arithmetic agree bit-for-bit — this
    * is the hash to use when the sampling decision itself must be
    * reproducible in plain SQL (oracles, cross-engine handoffs). Input
    * must be < 2³⁰; pre-fold wider keys (e.g.
    * `pmod(xxhash64(k), 1 << 30)`) when reproducibility only needs to
    * hold within one engine.
    */
  def mix30(key: Column): Column =
    column(TextHashExprs.mix30Expr(expression(key)))

  /** SQL text of the same mix, for oracle authorship. */
  def mix30Sql(key: String): String = {
    val p = 1073741789L
    val x1 = s"xor($key, $key >> 16)"
    val x2 = s"((($x1) * ${0x9E3779B1L}) % $p)"
    val x3 = s"xor($x2, ($x2) >> 13)"
    val x4 = s"((($x3) * ${0x85EBCA77L}) % $p)"
    s"xor($x4, ($x4) >> 16)"
  }

  /** Token-budget mixture sampling — "make the training corpus w_web
    * web, w_books books, w_code code by TOKENS, keeping as much data
    * as the mixture allows". The binding stratum (the one whose
    * supply runs out first at its target share) is kept whole; every
    * other stratum is down-sampled to its proportional budget by a
    * deterministic per-row hash threshold.
    *
    * Per stratum s with token supply T_s and target weight w_s:
    *   budget B = min_s(T_s / w_s); keep fraction f_s = B·w_s / T_s.
    * A row is kept iff mix30(key) % 2²⁰ < floor(f_s · 2²⁰) — no RNG
    * state, the same rows every run and every engine.
    *
    * 100 TB shape: the supply scan is one partial-aggregatable
    * groupBy over (stratum, tokens); fractions are |strata| driver
    * scalars folded into a literal CASE; the keep decision is a pure
    * per-row predicate evaluated inside the scan — the sampled
    * corpus never shuffles at all.
    *
    * Returns the kept rows. Strata missing from `weights` are
    * dropped (weight 0).
    */
  def mixtureByTokens(
      df: DataFrame,
      strataCol: String,
      keyCol: String,
      tokensCol: Column,
      weights: Map[String, Double]): DataFrame =
    mixtureByTokens(df, strataCol, keyCol, weights,
      tokenSupply(df, strataCol, tokensCol))

  /** Per-stratum token supply — the one aggregate the mixture math
    * needs. Exposed so callers who also want the fractions (for a
    * report column) aggregate ONCE and share the map.
    */
  def tokenSupply(df: DataFrame, strataCol: String,
      tokensCol: Column): Map[String, Long] =
    df.groupBy(col(strataCol).as("s"))
      .agg(sum(tokensCol).cast("long").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Precomputed-supply variant of `mixtureByTokens`. */
  def mixtureByTokens(
      df: DataFrame,
      strataCol: String,
      keyCol: String,
      weights: Map[String, Double],
      supply: Map[String, Long]): DataFrame = {
    require(weights.values.forall(_ > 0), "weights must be > 0")
    val fractions = mixtureFractions(supply, weights)
    val thr = fractions.toSeq.sortBy(_._1).foldLeft(lit(-1L)) {
      case (e, (s, f)) =>
        when(col(strataCol) === s, lit(math.floor(f * (1L << 20)).toLong))
          .otherwise(e)
    }
    df.filter(pmod(mix30(col(keyCol)), lit(1L << 20)) < thr)
  }

  /** Temperature-scaled mixture weights at α = 1/2 — the T5/LLaMA
    * "alpha sampling" curve that up-weights small sources relative
    * to their raw share (w_s = T_s^α). Feeding these into
    * `mixtureByTokens` yields kept-token shares ∝ √T_s with the
    * smallest source kept whole (it is always the binding stratum:
    * T/√T = √T is minimized by the smallest T).
    *
    * α is fixed at 1/2 because IEEE-754 REQUIRES sqrt to be
    * correctly rounded — both engines produce bit-identical weights,
    * so the sampling thresholds (and therefore the kept set) match
    * exactly. For other exponents use [[temperatureWeights]] — the
    * engine-LOCAL general-α path.
    */
  def sqrtTemperatureWeights(supply: Map[String, Long]): Map[String, Double] =
    supply.collect { case (s, t) if t > 0 => s -> math.sqrt(t.toDouble) }

  /** General-α temperature weights w_s = T_s^α — real mixture
    * recipes run α anywhere in ~0.3–0.7 (multilingual sampling,
    * DoReMi-style reweights), so the engine offers the full curve.
    *
    * ENGINE-LOCAL by design (documented non-oracled): pow's last-ulp
    * behavior is libm-specific, so unlike the α=1/2 path these
    * weights are not guaranteed bit-identical on a second engine —
    * at a hash-threshold boundary one row could flip. Within ONE
    * engine the weights (and the kept set) are fully deterministic:
    * java.lang.Math.pow is specified to ≤1 ulp with
    * semi-monotonicity, the same on every JVM platform. Dyadic α
    * (0.5, 0.25, 0.75) short-circuit to correctly-rounded sqrt
    * chains, so `temperatureWeights(s, 0.5)` ==
    * `sqrtTemperatureWeights(s)` exactly.
    */
  def temperatureWeights(supply: Map[String, Long],
      alpha: Double): Map[String, Double] = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0, 1]: $alpha")
    def w(t: Double): Double = alpha match {
      case 0.5 => math.sqrt(t)
      case 0.25 => math.sqrt(math.sqrt(t))
      case 0.75 => math.sqrt(math.sqrt(t * t * t))
      case 1.0 => t
      case a => math.pow(t, a)
    }
    supply.collect { case (s, t) if t > 0 => s -> w(t.toDouble) }
  }

  /** The driver-side fraction math, exposed for tests and oracles:
    * budget = min over weighted strata of supply/weight, fraction_s =
    * budget·w_s / supply_s (the binding stratum gets exactly 1.0).
    */
  def mixtureFractions(supply: Map[String, Long],
      weights: Map[String, Double]): Map[String, Double] = {
    val present = weights.filter { case (s, _) => supply.getOrElse(s, 0L) > 0L }
    if (present.isEmpty) Map.empty
    else {
      val budget = present.map { case (s, w) => supply(s) / w }.min
      present.map { case (s, w) => s -> (budget * w / supply(s)) }
    }
  }

  /** Deterministic per-class cap — class-rebalance downsampling
    * ("no class contributes more than k rows"): within each class,
    * keep the k rows ranked first by (mix30(id), id). The hash rank
    * is a portable pseudo-random order, so the kept set is a
    * uniform-ish draw that is REPRODUCIBLE across engines and runs
    * (the coordinated-sampling coin, promoted to a rank).
    *
    * Scale note: the rank window is CLASS-keyed (the q222 per-group
    * reducer contract — fine while a single class fits a reducer);
    * at petabyte class sizes swap the window for a two-phase
    * hash-threshold select (count per class → per-class rank
    * threshold via the bucketed prefix machinery).
    */
  def capPerClass(df: DataFrame, classCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"cap must be >= 1: $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(classCol).orderBy(mix30(col(idCol)), col(idCol))
    df.withColumn("_rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("_rn") <= k).drop("_rn")
  }
}
