package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deterministic content-hash sampling and splitting — the reproducible
 * alternative to RNG sampling for training-data pipelines: membership is
 * a pure function of the key, so samples are stable across runs,
 * engines, cluster sizes and re-partitioning (Spark's `sample()` is
 * seed-stable only for a fixed partitioning). Map-side only — no
 * shuffle, no state; at 100 TB a split is a free filter pushed to the
 * scan boundary.
 *
 * The hash is the engine's shared md5-prefix construction
 * (`conv(substr(md5(key),1,15),16,10)`, cf. TextDedup.strHash) bucketed
 * mod 10000, so a DuckDB oracle reproduces membership bit-for-bit.
 *
 * GRAIN CONTRACT: every keep decision quantizes its rate at the 10⁻⁴
 * bucket grain — `floor(rate × 10⁴)` is the integer threshold. For
 * operators whose rate is an EXPLICIT caller fraction ([[sampled]],
 * [[stratified]], [[split]], [[repeatByFactor]]'s fractional part) a
 * sub-grain value is a caller-visible constant that floors to "keep
 * nothing (extra)" — documented, not corrected. For operators whose
 * rate is DERIVED from the data ([[byWeight]] from duplicate counts,
 * [[byMixture]]/[[byTemperature]] from class counts) the threshold is
 * CLAMPED to ≥ 1 grain whenever the rate is positive: at corpus scale
 * a derived rate can silently cross the grain (a 10⁴×-duplicated
 * boilerplate group, a billion-row class under a 0.1% share) and
 * flooring to zero would deterministically ERASE content the caller
 * asked to keep — extinction is a contract violation, 10⁻⁴-floor
 * over-sampling is not.
 */
object Sampling {

  /** Hash bucket in [0, 10000) for a key column — 0.01% grain. */
  def bucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 15), 16, 10)
      .cast("long") % 10000

  /** Deterministic sample: rows whose key hashes below `fraction`
    * (an EXPLICIT fraction — quantized at the 10⁻⁴ grain, so
    * `fraction < 10⁻⁴` keeps nothing; see the object doc). */
  def sampled(df: DataFrame, keyCol: String, fraction: Double): DataFrame =
    df.filter(bucket(col(keyCol)) < (fraction * 10000).toLong)

  /**
   * Deterministic PER-ROW WEIGHTED sample: keep each row with
   * probability `weightCol` (∈ [0, 1]) — membership a pure function of
   * the key hash, so runs and engines agree. The consumer of
   * `TextDedup.softDedupWeights`: sampling a soft-deduped corpus at
   * its 1/n_copies weights yields in expectation ONE surviving copy
   * per duplicate group while never deterministically discarding
   * content (Muennighoff repeat-weighting, applied). Threshold =
   * floor(weight × 10⁴) against the shared md5 bucket — all-integer
   * comparison, oracle-replayable — CLAMPED to ≥ 1 for positive
   * weights: without the clamp any weight < 10⁻⁴ floors to threshold
   * 0 and the whole duplicate group is deterministically dropped
   * (boilerplate duplicated > 10⁴× is routine at corpus scale —
   * round-14 advice), contradicting the never-discard contract. Under
   * the clamp a sub-grain weight keeps at the 10⁻⁴ floor rate instead
   * (slight over-sampling of extreme duplicates; never extinction).
   * weight ≥ 1 always keeps; ≤ 0 never.
   */
  def byWeight(df: DataFrame, keyCol: String,
      weightCol: String): DataFrame =
    df.filter(bucket(col(keyCol)) <
      greatest(floor(col(weightCol) * 10000).cast("long"),
        when(col(weightCol) > 0, 1L).otherwise(0L)))

  /**
   * Deterministic stratified sample: a per-stratum fraction (e.g. keep
   * 40% of one language, 10% of the rest — corpus rebalancing).
   * Membership is still a pure function of the key, so strata stay
   * consistent across runs and engines. Fractions are EXPLICIT —
   * 10⁻⁴-grain quantized, not clamped (object doc).
   */
  def stratified(df: DataFrame, keyCol: String, strataCol: String,
      fractions: Map[String, Double],
      defaultFraction: Double = 0.0): DataFrame = {
    val frac = fractions.foldLeft(lit(defaultFraction)) {
      case (acc, (stratum, f)) =>
        when(col(strataCol) === stratum, lit(f)).otherwise(acc)
    }
    df.filter(bucket(col(keyCol)) < (frac * 10000).cast("long"))
  }

  /**
   * Deterministic corpus MIXING: sample so the output's class mix
   * approaches `targetShares` while keeping ~`outFraction` of the corpus
   * — the data-mixing step that rebalances sources/languages before LLM
   * training. Per-class rates are computed IN-PLAN from the class counts
   * (rate_c = min(1, outFraction·N·share_c / n_c); classes without a
   * target share are dropped), so no driver-side counting; the class
   * count/total relations broadcast (one row per class). Membership stays
   * a pure hash of the key — stable across runs, engines, partitionings.
   * A target that exceeds a class's population caps at keeping the whole
   * class (the mix then under-weights it — the standard behavior when a
   * requested mixture is infeasible). Derived-rate clamp (see the
   * object doc): a positive rate keeps at least the 10⁻⁴ floor rate —
   * a huge class under a small share is thinned, never erased.
   */
  def byMixture(df: DataFrame, keyCol: String, classCol: String,
      targetShares: Map[String, Double],
      outFraction: Double): DataFrame = {
    require(outFraction > 0 && outFraction <= 1, "outFraction in (0, 1]")
    val share = targetShares.foldLeft(lit(0.0)) {
      case (acc, (cls, s)) => when(col(classCol) === cls, lit(s)).otherwise(acc)
    }
    val counts = df.groupBy(col(classCol).as("__cls"))
      .agg(count(lit(1)).as("__n"))
    val total = df.agg(count(lit(1)).as("__total"))
    df.join(broadcast(counts), col(classCol) === col("__cls"))
      .crossJoin(broadcast(total))
      .withColumn("__rate", least(lit(1.0),
        lit(outFraction) * col("__total") * share / col("__n")))
      .filter(bucket(col(keyCol)) <
        greatest(floor(col("__rate") * 10000).cast("long"),
          when(col("__rate") > 0, 1L).otherwise(0L)))
      .drop("__cls", "__n", "__total", "__rate")
  }

  /**
   * Deterministic fractional REPETITION by class factor — the
   * up-sampling half of the mixture story ([[byMixture]] only thins):
   * training mixes repeat high-quality sources at factors like
   * Wikipedia ×2.5 (Gopher/Llama-style epoch weighting). Factor f
   * emits ⌊f⌋ copies of every row plus one more for keys whose hash
   * bucket falls below frac(f)·10⁴ — the expected copy count is
   * exactly f, membership is a pure key hash (run/engine/partitioning
   * stable), and f < 1 degenerates to deterministic thinning, so one
   * operator covers both directions. Output gains `rep` (0-based copy
   * index) so downstream dedup/packing see distinct rows.
   *
   * Scale: map-side only — a filter and a bounded explode, no shuffle,
   * no state; the explode multiplies rows by at most ⌈max factor⌉.
   * Factors are EXPLICIT — the fractional part is 10⁻⁴-grain
   * quantized, not clamped (object doc): frac(f) < 10⁻⁴ never emits
   * the extra copy (⌊f⌋ copies always do).
   */
  def repeatByFactor(df: DataFrame, keyCol: String, classCol: String,
      factors: Map[String, Double],
      defaultFactor: Double = 1.0): DataFrame = {
    require((factors.values ++ Seq(defaultFactor)).forall(_ >= 0),
      "repetition factors must be non-negative")
    val f = factors.foldLeft(lit(defaultFactor)) {
      case (acc, (cls, v)) => when(col(classCol) === cls, lit(v)).otherwise(acc)
    }
    val reps = floor(f).cast("long") +
      when(bucket(col(keyCol)) <
        floor((f - floor(f)) * 10000).cast("long"), 1L).otherwise(0L)
    df.withColumn("__reps", reps)
      .where(col("__reps") > 0)
      .withColumn("rep", explode(sequence(lit(0L), col("__reps") - 1)))
      .drop("__reps")
  }

  /**
   * Deterministic TEMPERATURE-scaled mixing: sample so the output's
   * class shares follow n_c^τ (normalized) instead of the raw corpus
   * shares — the multilingual rebalancing rule of mBERT/XLM-R/mT5
   * (Conneau & Lample 2019 §3.1): τ < 1 flattens the distribution,
   * up-weighting tail languages/sources without a hand-written target
   * map ([[byMixture]] needs explicit shares; this derives them from
   * the data). τ = 1 degenerates to uniform thinning at `outFraction`.
   *
   * Engine-exactness: the per-class weight is the INTEGER ⌊n_c^τ⌋ —
   * for τ = 0.5 that is ⌊√n_c⌋, exact in IEEE for any count below 2⁵²
   * (sqrt is correctly rounded and the result is > ½ulp from the next
   * integer) — so the cross-class normalizer is an exact long sum,
   * independent of aggregation order, and every downstream double op
   * (two divisions, one multiply) is correctly rounded from exact
   * integer inputs: a DuckDB oracle reproduces the keep decision
   * bit-for-bit. A double-weight formulation would tie the result to
   * the engine's summation order. For τ ∉ {0.5, 1} the weight uses
   * pow(), which is not correctly rounded — the ⌊·⌋ absorbs the ulp
   * except exactly at integer boundaries (document-level caveat; the
   * sampling is still deterministic per engine).
   *
   * Scale: one map-combined count per class reduced to a broadcast
   * relation + a 2-long-column normalizer row; membership stays a pure
   * hash of the key — no corpus shuffle, stable across runs, engines
   * and partitionings. Derived-rate clamp (see the object doc): a
   * positive rate keeps at least the 10⁻⁴ floor rate — a dominant
   * class whose flattened share crosses the grain (many singleton
   * strata inflating the normalizer) is thinned, never erased.
   */
  def byTemperature(df: DataFrame, keyCol: String, classCol: String,
      outFraction: Double, tau: Double = 0.5): DataFrame = {
    require(outFraction > 0 && outFraction <= 1, "outFraction in (0, 1]")
    require(tau > 0 && tau <= 1, "temperature exponent tau in (0, 1]")
    val counts = df.groupBy(col(classCol).as("__cls"))
      .agg(count(lit(1)).as("__n"))
    val w =
      if (tau == 1.0) col("__n").cast("double")
      else if (tau == 0.5) sqrt(col("__n").cast("double"))
      else pow(col("__n").cast("double"), tau)
    val weighted = counts.withColumn("__w", floor(w).cast("long"))
    val denom = weighted.agg(sum(col("__w")).as("__wsum"),
      sum(col("__n")).as("__total"))
    df.join(broadcast(weighted), col(classCol) === col("__cls"))
      .crossJoin(broadcast(denom))
      .withColumn("__rate", least(lit(1.0),
        lit(outFraction) * col("__total") * col("__w") / col("__wsum") /
          col("__n")))
      .filter(bucket(col(keyCol)) <
        greatest(floor(col("__rate") * 10000).cast("long"),
          when(col("__rate") > 0, 1L).otherwise(0L)))
      .drop("__cls", "__n", "__w", "__wsum", "__total", "__rate")
  }

  /**
   * Cluster-balanced selection: deterministically downsample every
   * stratum to the size of the SMALLEST stratum (or to an explicit
   * `perStratum` cap) — the diversity-sampling step that stops an
   * over-crawled topic/cluster from dominating a training mix
   * (cluster-then-balance selection in the SemDeDup/DoReMi tradition;
   * pair it with `cluster_embeddings`-style assignment for the
   * embedding-space version). Which rows survive is a pure function of
   * the keys: rank within stratum by the portable md5 [[bucket]] with
   * ties broken by the key itself — a total order, so the sample is
   * stable across runs, engines and partitionings, and a DuckDB oracle
   * replays it exactly (unlike count-limited `limit()` sampling, which
   * is partition-order-dependent).
   *
   * Scale: one map-combined count per stratum reduced to a 1-row
   * minimum (broadcast), then ONE ranking window per stratum. The
   * window sorts each stratum; when strata are huge relative to the
   * target, pre-thin with [[sampled]] (hash-threshold ≈ a few × the
   * target fraction) before ranking — the hash-rank order is preserved
   * under hash-threshold prefilters, so the result is identical as
   * long as the prefilter keeps ≥ target rows per stratum.
   */
  def balanced(df: DataFrame, keyCol: String, strataCol: String,
      perStratum: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rk = row_number().over(Window.partitionBy(col(strataCol))
      .orderBy(bucket(col(keyCol)), col(keyCol)))
    perStratum match {
      case Some(t) =>
        df.withColumn("__rk", rk).filter(col("__rk") <= t).drop("__rk")
      case None =>
        // Two consumers (the min-count aggregate and the ranked pass):
        // materialize the input once instead of re-executing whatever
        // produced it — the operator convention (e.g. a cluster
        // assignment upstream is the dominant cost, not this window).
        val mat = Materialized(df)
        val m = mat.groupBy(col(strataCol)).agg(count(lit(1)).as("__n"))
          .agg(min(col("__n")).as("__m"))
        mat.withColumn("__rk", rk).crossJoin(broadcast(m))
          .filter(col("__rk") <= col("__m")).drop("__rk", "__m")
    }
  }

  /**
   * EXACT top-fraction selection by a fixed-grain score — the
   * data-selection cut (DSIR/quality-classifier resampling: keep the
   * best `permille`/1000 of the corpus by importance) WITHOUT a
   * corpus-wide sort: the score must be `1/grain`-grained (the
   * engine's 4-dp micro-rounded scores are), so the distribution is a
   * hash-aggregated histogram over at most (score range × grain)
   * cells — bounded by the score range, NOT corpus size; one window
   * over that bounded relation derives the tie-inclusive threshold
   * (⌈n·permille/1000⌉ via integer DIV), which broadcasts back as a
   * filter. Rows tying the threshold score are all kept (the target is
   * met with minimal tie-inclusive overshoot). Integer arithmetic
   * throughout — a DuckDB oracle replays the cut bit-for-bit.
   */
  def topFractionByScore(df: DataFrame, scoreCol: String, permille: Int,
      grain: Int = 10000): DataFrame = {
    require(permille > 0 && permille <= 1000, "permille in [1, 1000]")
    require(grain > 0, "grain must be positive")
    val g = Materialized(df).withColumn("__m",
      round(col(scoreCol) * grain).cast("long"))
    val thr = histogramCuts(g, Nil, "__thr" -> permille)
    g.crossJoin(broadcast(thr))
      .filter(col("__m") >= col("__thr"))
      .drop("__m", "__thr")
  }

  /** The tie-inclusive cut points of a fixed-grain score, per group:
    * for each (name → permille) target, the largest micro-unit `__m`
    * whose descending cumulative count reaches ⌈n·permille/1000⌉ (via
    * integer DIV), n the group's row count. `grained` carries the
    * integer micro-unit score `__m` and the `groups` columns; no group
    * means one global cut. The histogram is hash-aggregated over
    * (groups, __m) — bounded by the score range, never by rows — and
    * one window over it, partitioned by the groups, accumulates the
    * counts. Output: one row per group, (groups…, name…). */
  private[graft] def histogramCuts(grained: DataFrame, groups: Seq[String],
      targets: (String, Int)*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDesc = Window.partitionBy(groups.map(col): _*)
      .orderBy(col("__m").desc)
    val cum = grained.groupBy((groups :+ "__m").map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__cum", sum(col("__cnt")).over(
        byDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", sum(col("__cnt")).over(
        byDesc.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    val cuts = targets.map { case (name, p) =>
      max(when(col("__cum") >= expr(s"(__n * $p + 999) DIV 1000"),
        col("__m"))).as(name)
    }
    cum.groupBy(groups.map(col): _*).agg(cuts.head, cuts.tail: _*)
  }

  /**
   * APPROXIMATE top-fraction selection by an ARBITRARY-grain score —
   * the companion of [[topFractionByScore]] for signals without a
   * bounded grain (raw IEEE doubles: perplexities, classifier logits,
   * ratios), where the exact histogram path has no bounded relation to
   * window over. The threshold is the deterministic bottom-k quantile
   * sketch's lower nearest-rank estimate at q = 1 − permille/1000
   * ([[graft.functions.QuantileSketchValues]] — order/partition-
   * invariant, DuckDB-replayable), broadcast back as a `score ≥ thr`
   * filter (tie-inclusive, like the exact cut). The kept fraction is
   * permille/1000 ± ~1/√k of the corpus — the CCNet/FineWeb percentile
   * gate at 100 TB: one 16·k-byte aggregate + one map-side filter, no
   * sort, no histogram-grain requirement. `keyCol` must be a unique
   * row id (the hash seed).
   */
  def topFractionBySketch(df: DataFrame, scoreCol: String,
      keyCol: String, permille: Int, k: Int = 1024): DataFrame = {
    require(permille > 0 && permille <= 1000, "permille in [1, 1000]")
    val d = Materialized(df)
    val q = 1.0 - permille / 1000.0
    val thr = d.agg(graft.functions.GraftFunctions.quantile_estimate(
      graft.functions.GraftFunctions.quantile_sketch(
        col(scoreCol).cast("double"), col(keyCol).cast("string"), k), q)
      .as("__thr"))
    d.crossJoin(broadcast(thr))
      .filter(col(scoreCol) >= col("__thr"))
      .drop("__thr")
  }

  /**
   * PER-STRATUM [[topFractionBySketch]] — the FineWeb2 shape: one
   * quantile sketch per stratum (language, domain, source), each
   * stratum cut at ITS OWN threshold, so a fluent minority language is
   * gated against its own distribution instead of the corpus-wide one.
   * One grouped 16·k-bytes-per-stratum aggregate + a broadcast
   * threshold join + a map-side filter — the per-group twin of the
   * global gate, same ~1/√k kept-fraction envelope per stratum.
   */
  def topFractionBySketchBy(df: DataFrame, scoreCol: String,
      keyCol: String, strataCol: String, permille: Int,
      k: Int = 1024): DataFrame = {
    require(permille > 0 && permille <= 1000, "permille in [1, 1000]")
    val d = Materialized(df)
    val q = 1.0 - permille / 1000.0
    val thr = d.groupBy(col(strataCol))
      .agg(graft.functions.GraftFunctions.quantile_estimate(
        graft.functions.GraftFunctions.quantile_sketch(
          col(scoreCol).cast("double"), col(keyCol).cast("string"), k), q)
        .as("__thr"))
    d.join(broadcast(thr), Seq(strataCol))
      .filter(col(scoreCol) >= col("__thr"))
      .drop("__thr")
  }

  /**
   * Deterministic train/validation/test split by key hash: adds a
   * `split` column ("train" / "val" / "test") from cumulative fraction
   * boundaries. Fractions must sum to ≤ 1; the remainder (if any) is
   * labelled "holdout".
   */
  def split(df: DataFrame, keyCol: String, trainFrac: Double,
      valFrac: Double, testFrac: Double): DataFrame = {
    require(trainFrac + valFrac + testFrac <= 1.0 + 1e-9,
      "fractions must sum to at most 1")
    val b = bucket(col(keyCol))
    val t1 = (trainFrac * 10000).toLong
    val t2 = ((trainFrac + valFrac) * 10000).toLong
    val t3 = ((trainFrac + valFrac + testFrac) * 10000).toLong
    df.withColumn("split",
      when(b < t1, "train")
        .when(b < t2, "val")
        .when(b < t3, "test")
        .otherwise("holdout"))
  }
}
