package graft.corpus

import graft.dedup.{ConnectedComponents, TextDedup}
import graft.operators.Sampling
import graft.text.{SequencePacking, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * End-to-end LLM training-corpus preparation — the composition every
 * large-scale data pipeline runs, as one operator chain over the
 * library's verified pieces:
 *
 *   1. quality filter (token-count floor),
 *   2. exact dedup (min-id keeper per content digest),
 *   3. near-dup dedup (MinHash-LSH pairs → connected components →
 *      component-minimum keepers),
 *   4. benchmark decontamination (n-gram containment, df-capped),
 *   5. language-mixture sampling (in-plan per-class rates),
 *   6. training-sequence packing (per-shard stream packing).
 *
 * Every stage is deterministic and SQL-expressible, so the WHOLE chain
 * is oracle-checked end-to-end (one composed DuckDB query) — not just
 * its pieces. Scale shape: stages 1-2 are map + one hash-agg; stage 3
 * shuffles band keys and near-dup edges only; stage 4 is the capped
 * inverted-index join; stages 5-6 are map-side filters plus one
 * per-shard window.
 */
object CorpusPipeline {

  /** Stages 1-3 (quality → exact dedup → MinHash component keepers):
    * the deduplicated corpus. This IS the pipeline's materialization
    * point — production writes it to parquet and reuses it across
    * training runs; callers should cache/persist the result before
    * running several downstream mixes. */
  def keepers(docs: DataFrame, textCol: String, idCol: String,
      minTokens: Int = 10): DataFrame = {
    // exact feeds the whole near-dup join chain (bands, verify, label
    // read-out) — without the materialization the upstream recomputes
    // per consumer and per CC-loop action. Materialized, not persisted:
    // this returns a lazy frame with no unpersist point
    // (graft.operators.Materialized).
    val quality = docs
      .filter(TextAnalysis.tokenCount(col(textCol)) >= minTokens)
    val keepIds = quality
      .groupBy(md5(col(textCol)).as("__dg"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    val exact = graft.operators.Materialized(
      quality.join(keepIds, Seq(idCol), "left_semi"))
    val pairs = TextDedup.minhashLshPairs(exact, textCol, idCol)
    val labels = ConnectedComponents
      .label(exact.select(idCol), pairs, "doc_a", "doc_b")
    exact.join(
      labels.filter(col("node") === col("component"))
        .select(col("node").as(idCol)),
      Seq(idCol), "left_semi")
  }

  /** Stage 3b — SEMANTIC near-dup dedup over the keeper corpus: the
    * survivors' embeddings (semi-join on id) are SemDeDup'ed
    * ([[graft.embeddings.SemanticDedup.keepers]] — cluster, then the
    * farthest-from-centroid keeper rule within clusters) and the
    * corpus keeps the intersection. `cents` are the caller's coarse
    * centroids — by convention trained/seeded on the FULL embedding
    * table (bootstrap corpus), so cluster ids are stable across
    * pipeline re-runs while the population-dependent cap sees only the
    * surviving members. Scale shape: one semi-join + the SemDeDup
    * within-cluster joins, all linear-in-members for a bounded cluster
    * size. */
  def semanticKeepers(keepers: DataFrame, embeddings: DataFrame,
      idCol: String, vecCol: String, vecIdCol: String,
      cents: Array[(Long, Array[Double], Double)],
      threshold: Double): DataFrame = {
    val memberEmb = embeddings.join(
      keepers.select(col(idCol).as(vecIdCol)), Seq(vecIdCol), "left_semi")
    val kept = graft.embeddings.SemanticDedup
      .keepers(memberEmb, vecCol, vecIdCol, cents, threshold)
      .filter(col("is_kept"))
      .select(col("vec_id").as(idCol))
    keepers.join(kept, Seq(idCol), "left_semi")
  }

  /** Stages 4-6 over a (possibly cached) keeper corpus: benchmark
    * decontamination → mixture sampling → sequence packing. */
  def finishFromKeepers(keepers: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, langCol: String,
      targetShares: Map[String, Double], outFraction: Double = 0.5,
      budget: Int = 512): DataFrame = {
    val decon = graft.operators.Materialized(
      TextDedup.decontaminate(keepers, bench, textCol, idCol))
    val mixed = Sampling.byMixture(decon, idCol, langCol,
      targetShares, outFraction)
    SequencePacking.pack(mixed, textCol, idCol, budget, langCol)
  }

  /** Decontaminate → mix → EPOCH-WEIGHT: the finishing chain with
    * fractional repetition ([[Sampling.repeatByFactor]]) in place of
    * packing — one row per (surviving document, copy), the repeated
    * stream a trainer consumes when sources are weighted above one
    * epoch (Wikipedia-×2.5-style mixture weights). Output: idCol,
    * langCol, rep. */
  def finishWeighted(keepers: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, langCol: String,
      targetShares: Map[String, Double], outFraction: Double,
      epochFactors: Map[String, Double]): DataFrame = {
    val decon = graft.operators.Materialized(
      TextDedup.decontaminate(keepers, bench, textCol, idCol))
    val mixed = Sampling.byMixture(decon, idCol, langCol,
      targetShares, outFraction)
    Sampling.repeatByFactor(mixed.select(col(idCol), col(langCol)),
      idCol, langCol, epochFactors)
  }

  /** Stage 0 + stages 1-3: URL/domain curation AHEAD of the keeper
    * chain — the C4/RefinedWeb ordering (domain gating and per-domain
    * caps run on the raw crawl BEFORE any text-level work, because a
    * blocklisted or over-represented domain should not even pay for
    * quality scoring and dedup). Blocklist/suffix gate, then the
    * md5-rank per-domain cap over the survivors, then [[keepers]].
    * The `domain` helper column is dropped before the text stages. */
  def curatedKeepers(docs: DataFrame, urlCol: String, textCol: String,
      idCol: String, blocked: Seq[String],
      keepSuffix: Option[String] = None, domainCap: Long = Long.MaxValue,
      minTokens: Int = 10): DataFrame = {
    val gated = Curation.domainFilter(docs, urlCol, blocked, keepSuffix)
    val capped =
      if (domainCap == Long.MaxValue) gated
      else Curation.capPerDomain(gated, urlCol, idCol, domainCap)
        .drop("domain")
    keepers(capped, textCol, idCol, minTokens)
  }

  /** Per-document packed output of the full chain: doc_id, shard,
    * n_tokens, seq_id, seq_offset, spans_boundary for every surviving
    * document. */
  def prepare(docs: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, langCol: String, minTokens: Int = 10,
      targetShares: Map[String, Double], outFraction: Double = 0.5,
      budget: Int = 512): DataFrame =
    finishFromKeepers(keepers(docs, textCol, idCol, minTokens), bench,
      textCol, idCol, langCol, targetShares, outFraction, budget)

  /** Row counts after each stage — the run report a pipeline emits.
    * Each stage is persisted before the six count() actions run (the
    * CC loop alone re-executes its upstream once per round otherwise)
    * and unpersisted on the way out. */
  def stageStats(docs: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, langCol: String, minTokens: Int = 10,
      targetShares: Map[String, Double],
      outFraction: Double = 0.5): Seq[(String, Long)] = {
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val quality = docs
      .filter(TextAnalysis.tokenCount(col(textCol)) >= minTokens)
      .persist(mem)
    val keepIds = quality.groupBy(md5(col(textCol)).as("__dg"))
      .agg(min(col(idCol)).as(idCol)).select(idCol)
    val exact = quality.join(keepIds, Seq(idCol), "left_semi").persist(mem)
    val pairs = TextDedup.minhashLshPairs(exact, textCol, idCol)
    val labels = ConnectedComponents
      .label(exact.select(idCol), pairs, "doc_a", "doc_b")
    val keepers = exact.join(
      labels.filter(col("node") === col("component"))
        .select(col("node").as(idCol)), Seq(idCol), "left_semi")
      .persist(mem)
    val decon = TextDedup.decontaminate(keepers, bench, textCol, idCol)
      .persist(mem)
    val mixed = Sampling.byMixture(decon, idCol, langCol,
      targetShares, outFraction)
    try Seq(
      "input" -> docs.count(), "quality" -> quality.count(),
      "exact_dedup" -> exact.count(), "near_dedup" -> keepers.count(),
      "decontaminated" -> decon.count(), "mixed" -> mixed.count())
    finally Seq(quality, exact, keepers, decon).foreach(_.unpersist())
  }

  /**
   * FineWeb-style QUALITY STACK: every model+rule curation gate the
   * library trains or derives, composed into ONE per-document decision
   * frame — the rule gates (the Gopher signal battery, the C4
   * terminal-punctuation page gate) and the model gates (the
   * supervised logistic-regression quality probability, the corpus-LM
   * perplexity triage):
   *
   *   keep = gopher_pass AND c4_pass AND lr_prob ≥ 0.5
   *          AND ppl_bucket ∈ {head, middle}
   *
   * A document INVISIBLE to a model gate (no hashed grams for LR, no
   * bigrams for the LM) FAILS that gate — absence of evidence is not
   * quality; its `lr_prob` is null and its `ppl_bucket` reads `none`,
   * so the report still says WHY the document was dropped.
   *
   * Scale shape: four doc-grain branches over one materialized scan
   * (Gopher and C4 are map-side projections; LR scoring is one
   * broadcast-model join + hash agg; the LM leg is the bounded-
   * histogram triage), joined back on the 8-byte doc id. Callers pass
   * a PRETRAINED weight table — training is the expensive once-per-
   * corpus step and must not ride a report query.
   */
  def qualityStack(docs: DataFrame, textCol: String, idCol: String,
      lrLabel: Column, lrWeights: DataFrame,
      minLineWords: Int = 3, minSentences: Int = 1): DataFrame = {
    val d = graft.operators.Materialized(
      docs.select(col(idCol), col(textCol)))
    val gopher = TextAnalysis.gopherSignals(d, textCol, idCol)
      .select("doc_id", "gopher_pass")
    val c4 = TextAnalysis.c4LineFilter(d, textCol, idCol, minLineWords,
      minSentences).select(col("doc_id"), col("kept").as("c4_pass"))
    val lr = graft.text.LogisticRegression.predictWithWeights(d, textCol,
      idCol, lrLabel, lrWeights, trainBuckets = 0)
      .select(col("doc_id"), col("prob").as("lr_prob"))
    val ppl = graft.text.LanguageModel.perplexityBuckets(d, textCol, idCol)
      .select(col("doc_id"), col("bucket").as("ppl_bucket"))
    composeGates(d.select(col(idCol).as("doc_id")), gopher, c4, lr, ppl)
  }

  /**
   * PER-LANGUAGE quality stack (FineWeb2 semantics): the corpus-wide
   * stack misjudges any language whose score distribution differs from
   * the majority's — a fluent low-resource language scores "tail"
   * against a high-resource LM and is wholesale dropped. This variant
   * routes every document through the trained softmax language
   * identifier and makes BOTH model gates language-relative:
   *
   *   - LM leg: one add-α bigram model per PREDICTED language
   *     ([[graft.text.LanguageModel.scoreDocsPerGroup]] — each document
   *     scored against its own language's model), head/middle/tail cut
   *     WITHIN the language ([[graft.text.LanguageModel.bucketsByScorePerGroup]]).
   *   - LR leg: the shared quality probability, but gated at
   *     per-language quantiles instead of the corpus-wide 0.5 — the
   *     FineWeb2 move of calibrating thresholds per language rather
   *     than retraining per language (the model is one broadcastable
   *     weight table; only the 2-value threshold relation is per-group).
   *
   * The rule gates (Gopher, C4) stay language-agnostic map-side
   * projections. A document invisible to the router (no hashed grams)
   * fails both model gates and reads pred_lang/'none' buckets — same
   * absence-is-not-quality semantics as [[qualityStack]].
   *
   * Scale shape: the router and LR leg are one broadcast-model join +
   * hash agg each; the per-group LM is keyed (lang, gram) — model
   * relations stay vocab-sized per language; both quantile cuts are
   * bounded micro-unit histograms windowed PER GROUP (never a
   * corpus-wide sort); the final assembly is five left joins on the
   * 8-byte doc id.
   */
  def qualityStackMultilingual(docs: DataFrame, textCol: String,
      idCol: String, langLabelCol: String, softmaxWeights: DataFrame,
      lrLabel: Column, lrWeights: DataFrame,
      minLineWords: Int = 3, minSentences: Int = 1,
      headPermille: Int = 300, midPermille: Int = 400): DataFrame = {
    val d = graft.operators.Materialized(
      docs.select(col(idCol), col(textCol), col(langLabelCol)))
    val gopher = TextAnalysis.gopherSignals(d, textCol, idCol)
      .select("doc_id", "gopher_pass")
    val c4 = TextAnalysis.c4LineFilter(d, textCol, idCol, minLineWords,
      minSentences).select(col("doc_id"), col("kept").as("c4_pass"))
    val pred = graft.text.LogisticRegression.predictWithSoftmaxWeights(
      d, textCol, idCol, langLabelCol, softmaxWeights, trainBuckets = 0)
      .select(col("doc_id"), col("label_pred").as("pred_lang"))
    val lr = graft.text.LogisticRegression.predictWithWeights(d, textCol,
      idCol, lrLabel, lrWeights, trainBuckets = 0)
      .select(col("doc_id"), col("prob").as("lr_prob"))
    val lrB = graft.text.LanguageModel.bucketsByScorePerGroup(
      lr.join(pred, "doc_id"), "lr_prob", "pred_lang",
      headPermille, midPermille)
      .select(col("doc_id"), col("bucket").as("lr_bucket"))
    val dp = d.join(pred.withColumnRenamed("doc_id", idCol), Seq(idCol))
    val ppl = graft.text.LanguageModel.bucketsByScorePerGroup(
      graft.text.LanguageModel.scoreDocsPerGroup(dp, textCol, idCol,
        "pred_lang"),
      "lm_score", "pred_lang", headPermille, midPermille)
      .select(col("doc_id"), col("bucket").as("ppl_bucket"))
    d.select(col(idCol).as("doc_id"))
      .join(pred, Seq("doc_id"), "left")
      .join(gopher, Seq("doc_id"), "left")
      .join(c4, Seq("doc_id"), "left")
      .join(lr, Seq("doc_id"), "left")
      .join(lrB, Seq("doc_id"), "left")
      .join(ppl, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("pred_lang"), lit("none")).as("pred_lang"),
        col("gopher_pass"), col("c4_pass"), col("lr_prob"),
        coalesce(col("lr_bucket"), lit("none")).as("lr_bucket"),
        coalesce(col("ppl_bucket"), lit("none")).as("ppl_bucket"),
        (coalesce(col("gopher_pass"), lit(false)) &&
          coalesce(col("c4_pass"), lit(false)) &&
          coalesce(col("lr_bucket").isin("head", "middle"), lit(false)) &&
          coalesce(col("ppl_bucket").isin("head", "middle"), lit(false)))
          .as("keep"))
  }

  /** The four-gate join + keep conjunction shared by [[qualityStack]]
    * and the streaming serve path
    * ([[graft.streaming.StreamingQualityStack]]): left joins on the
    * 8-byte doc id, null gate values fail explicitly, keep is the
    * conjunction of the reasons. */
  private[graft] def composeGates(ids: DataFrame, gopher: DataFrame,
      c4: DataFrame, lr: DataFrame, ppl: DataFrame): DataFrame =
    ids
      .join(gopher, Seq("doc_id"), "left")
      .join(c4, Seq("doc_id"), "left")
      .join(lr, Seq("doc_id"), "left")
      .join(ppl, Seq("doc_id"), "left")
      .select(col("doc_id"), col("gopher_pass"), col("c4_pass"),
        col("lr_prob"),
        coalesce(col("ppl_bucket"), lit("none")).as("ppl_bucket"),
        (coalesce(col("gopher_pass"), lit(false)) &&
          coalesce(col("c4_pass"), lit(false)) &&
          coalesce(col("lr_prob") >= 0.5, lit(false)) &&
          coalesce(col("ppl_bucket").isin("head", "middle"), lit(false)))
          .as("keep"))

  /**
   * The FineWeb-style ABLATION MART over [[qualityStack]]'s reason
   * columns: per dimension group (language, source/domain — any
   * caller-chosen document columns), how many documents each gate
   * passes and what fraction survives the conjunction — the report a
   * curation team actually reads when tuning gates. A null gate value
   * (document invisible to a model) counts as a fail, matching the
   * stack's keep semantics. One join on the 8-byte doc id + one
   * conditional aggregation — group count is bounded by the dimension
   * cardinality, so the output is a mart-sized relation at any corpus
   * size.
   */
  def qualityReport(stack: DataFrame, docs: DataFrame, idCol: String,
      dims: Seq[String]): DataFrame = {
    require(dims.nonEmpty, "report needs at least one dimension column")
    val d = docs.select(col(idCol).as("doc_id") +: dims.map(col): _*)
    stack.join(d, "doc_id")
      .groupBy(dims.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("gopher_pass") === true, 1L).otherwise(0L))
          .as("gopher_pass_n"),
        sum(when(col("c4_pass") === true, 1L).otherwise(0L))
          .as("c4_pass_n"),
        sum(when(col("lr_prob") >= 0.5, 1L).otherwise(0L))
          .as("lr_pass_n"),
        sum(when(col("ppl_bucket").isin("head", "middle"), 1L)
          .otherwise(0L)).as("ppl_pass_n"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept_n"))
      .withColumn("kept_frac",
        round(col("kept_n").cast("double") / col("n_docs"), 4))
  }
}
