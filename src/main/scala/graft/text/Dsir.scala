package graft.text

import graft.dedup.TextDedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * DSIR-style importance weighting — Data Selection via Importance
 * Resampling (Xie et al., NeurIPS 2023): score every raw document by how
 * much more likely its content is under a TARGET distribution (a small
 * high-quality/in-domain seed set) than under the RAW distribution, then
 * keep the highest-weighted slice. The standard trained data-selection
 * step between crawling and training.
 *
 * Both distributions are hashed bag-of-n-gram models (unigrams +
 * bigrams, hashed into `buckets` cells — the paper's construction):
 *
 *   log w(d) = Σ_{g ∈ grams(d)} [ ln P_target(bucket(g))
 *                               − ln P_raw(bucket(g)) ]
 *
 * with Laplace-smoothed cell probabilities P(b) = (cnt_b + 1)/(N + B).
 *
 * Scale design: training both models is ONE hash aggregation over the
 * exploded grams (cells counted per side); the model is exactly
 * `buckets` rows — broadcastable at any corpus size. Scoring is a
 * map-side broadcast join from each document's grams to the cell table
 * plus one per-document combine. Nothing driver-side, nothing quadratic;
 * the hash alphabet is fixed so the model size is INDEPENDENT of corpus
 * scale (the reason DSIR runs on trillion-token crawls).
 *
 * Engine-exactness: the per-cell log ratio is rounded to 6 dp once and
 * summed as DECIMAL per document (the [[Relevance]] convention), so
 * weights are partition-order-independent and oracle-replayable; the
 * cell hash is the engine's shared md5-prefix construction
 * ([[TextDedup.strHash]]).
 */
object Dsir {

  /** Unigram + bigram multiset of a text column, hashed into
    * [0, buckets) cells. Multiplicity is kept — the weight is a sum over
    * gram INSTANCES, so repeated grams count repeatedly. One codegen'd
    * kernel call per document ([[graft.functions.GraftFunctions.dsir_cells]]);
    * [[gramCellsExpr]] is the interpreted plan twin the spec holds it to. */
  private[text] def gramCells(c: Column, buckets: Int): Column =
    graft.functions.GraftFunctions.dsir_cells(c, buckets)

  private[graft] def gramCellsPublicForTest(c: Column, buckets: Int): Column =
    gramCells(c, buckets)

  /** Compositional Column-expression twin of the kernel (per-gram md5
    * lambda) — kept for the row-identity spec, not the hot path. */
  private[graft] def gramCellsExpr(c: Column, buckets: Int): Column = {
    val toks = TextAnalysis.tokens(c)
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2),
        i => concat_ws(" ", slice(toks, i + 1, lit(2)))))
      .otherwise(array().cast("array<string>"))
    transform(concat(toks, bigrams), g => pmod(TextDedup.strHash(g), lit(buckets)))
  }

  /**
   * Per-document DSIR log importance weight of every document in `raw`
   * against the `isTarget` seed slice (target docs are excluded from the
   * output — they are the reference, not candidates; documents with ZERO
   * grams — empty/whitespace-only text — are excluded too, having no
   * evidence to weigh). Output: (doc_id, n_grams, log_weight) with
   * log_weight to 4 dp; higher = more target-like. Rank-descending on
   * log_weight and cut to realize the paper's resampling step.
   */
  def importanceWeights(raw: DataFrame, textCol: String, idCol: String,
      isTarget: Column, buckets: Int = 1024): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val base = raw.select(col(idCol).as("doc_id"), isTarget.as("is_target"),
      gramCells(col(textCol), buckets).as("cells"))
    val grams = base.select(col("doc_id"), col("is_target"),
      explode(col("cells")).as("cell"))

    // one pass counts both sides; the model is exactly `buckets` rows
    val cellCounts = grams.groupBy("cell")
      .agg(sum(when(col("is_target"), 1L).otherwise(0L)).as("tc"),
        sum(when(!col("is_target"), 1L).otherwise(0L)).as("rc"))
    // totals fold over the CELL table (≤ `buckets` rows), not the gram
    // explosion — every gram lands in exactly one cell, so the sums are
    // identical and the corpus-sized pass is saved
    val totals = cellCounts.agg(
      sum(col("tc")).as("tt"), sum(col("rc")).as("rt"))

    // ln((tc+1)/(tt+B)) − ln((rc+1)/(rt+B)), rounded once per CELL —
    // each gram instance then contributes the identical decimal
    val cellRatio = cellCounts.crossJoin(totals)
      .select(col("cell"),
        round(log((col("tc") + 1).cast("double") / (col("tt") + lit(buckets))) -
          log((col("rc") + 1).cast("double") / (col("rt") + lit(buckets))), 6)
          .cast("decimal(18,6)").as("lr"))

    grams.filter(!col("is_target"))
      .join(broadcast(cellRatio), "cell")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        round(sum(col("lr")), 4).cast("double").as("log_weight"))
  }
}
