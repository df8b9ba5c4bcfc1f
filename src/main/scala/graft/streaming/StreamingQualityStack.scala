package graft.streaming

import graft.text.{LanguageModel, LogisticRegression, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming quality stack — the ingest-time twin of
 * [[graft.corpus.CorpusPipeline.qualityStack]]: every arriving
 * micro-batch is pushed through the same four curation gates
 * (the Gopher signal battery, the C4 page gate, the supervised-LR
 * quality probability, the corpus-LM perplexity triage) and committed
 * WITH its reasons, so downstream consumers can both filter on `keep`
 * and audit why a document was dropped.
 *
 * The model gates score against PERSISTED SERVING ARTIFACTS, built
 * once at deploy time from a reference corpus ([[buildArtifacts]]):
 *
 *  - the LR weight table (DECIMAL(18,6) — exact parquet round-trip,
 *    [[LogisticRegression.writeModel]] semantics);
 *  - the LM bigram pair-count relation + distinct-token count
 *    (pure longs/strings; context counts DERIVE from the pair
 *    relation at serve time — [[LanguageModel.scoreDocsFromRelations]]);
 *  - the two integer perplexity cut points
 *    ([[LanguageModel.scoreThresholds]] on the reference corpus) —
 *    streaming batches are labeled against FIXED thresholds, never
 *    against their own histogram (a micro-batch's quantiles say
 *    nothing about corpus-wide fluency).
 *
 * The rule gates are stateless kernels. With all four gates pure
 * per-document functions of (batch, artifacts), the operator is
 * STATELESS across batches — the [[StreamingDecontaminate]] shape:
 * no growing index, each batch committed by dynamic overwrite of its
 * own `batch_id` partition, every crash-window replay an identical
 * overwrite (idempotent by construction). Offline small-files
 * maintenance reuses [[StreamingDecontaminate.compactOutput]]'s
 * commit-horizon discipline via the same output layout.
 *
 * Scale shape per batch: two map-side kernel projections, one
 * broadcast join against the ≤ buckets+1-row weight table + a
 * doc-grain hash agg, one join of the batch's bigram stream against
 * the vocab-sized pair relation + a doc-grain hash agg, and a 1-row
 * threshold broadcast — linear in the micro-batch, independent of
 * everything committed before it.
 */
object StreamingQualityStack {

  /** Loaded serving artifacts (see [[buildArtifacts]] for layout).
    * `alpha` rides WITH the artifacts: the persisted thresholds encode
    * the reference corpus's score distribution AT the training alpha,
    * so serving must smooth with the same value — a free serve-time
    * alpha knob would silently mislabel every batch. */
  final case class Artifacts(lrWeights: DataFrame, lmPairs: DataFrame,
      lmVocab: DataFrame, thresholds: DataFrame, alpha: Double)

  private def lrPath(dir: String) = s"$dir/lr_weights"
  private def pairsPath(dir: String) = s"$dir/lm_pairs"
  private def vocabPath(dir: String) = s"$dir/lm_vocab"
  private def thrPath(dir: String) = s"$dir/thresholds"
  private def paramsPath(dir: String) = s"$dir/params"

  /**
   * Build the deploy-time artifacts from a reference corpus. The LR
   * weight table is passed in PRETRAINED (training is the expensive
   * once-per-corpus step and the caller may already share a fitted
   * table — same contract as `qualityStack`); the LM relations and the
   * perplexity thresholds are derived here. Every artifact round-trips
   * parquet exactly (decimals, longs, strings), so serving from disk
   * is bit-identical to serving from the live frames.
   */
  def buildArtifacts(reference: DataFrame, textCol: String, idCol: String,
      lrWeights: DataFrame, artifactDir: String, alpha: Double = 0.5,
      headPermille: Int = 300, midPermille: Int = 400): Unit = {
    lrWeights.write.mode("overwrite").parquet(lrPath(artifactDir))
    LanguageModel.bigrams(reference, textCol, idCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      .write.mode("overwrite").parquet(pairsPath(artifactDir))
    reference
      .select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .agg(count_distinct(col("tok")).as("vsz"))
      .write.mode("overwrite").parquet(vocabPath(artifactDir))
    // thresholds from the reference corpus's own fluency distribution
    // (scoreDocs trains and scores the reference — identical to
    // scoring it against its own persisted relations)
    LanguageModel.scoreThresholds(
        LanguageModel.scoreDocs(reference, textCol, idCol, alpha),
        "lm_score", headPermille, midPermille)
      .write.mode("overwrite").parquet(thrPath(artifactDir))
    // the training parameters the thresholds were derived under — the
    // serve path reads alpha back rather than trusting a caller to
    // repeat it (a mismatched alpha would score batches on one
    // distribution and label them on another, silently)
    val spark = reference.sparkSession
    import spark.implicits._
    Seq((alpha, headPermille, midPermille))
      .toDF("alpha", "head_permille", "mid_permille")
      .write.mode("overwrite").parquet(paramsPath(artifactDir))
  }

  def loadArtifacts(spark: SparkSession, artifactDir: String): Artifacts =
    Artifacts(
      spark.read.parquet(lrPath(artifactDir)),
      spark.read.parquet(pairsPath(artifactDir)),
      spark.read.parquet(vocabPath(artifactDir)),
      spark.read.parquet(thrPath(artifactDir)),
      spark.read.parquet(paramsPath(artifactDir))
        .head().getAs[Double]("alpha"))

  /**
   * The four gates over ONE batch against the artifacts — a pure
   * per-document function, output schema and semantics identical to
   * `qualityStack` (null model gates fail explicitly; `keep` is the
   * conjunction). Applying this to a reference corpus against its OWN
   * artifacts reproduces the batch stack bit-for-bit: the LR decimals
   * round-trip exactly, the LM left joins degenerate to the
   * train-and-score path when every bigram matches, and the fixed
   * thresholds ARE the corpus histogram's cut points.
   */
  def serveStack(batch: DataFrame, textCol: String, idCol: String,
      art: Artifacts, minLineWords: Int = 3,
      minSentences: Int = 1): DataFrame =
    gates(graft.operators.Materialized(
      batch.select(col(idCol), col(textCol))), textCol, idCol, art,
      minLineWords, minSentences)

  /** The four gates over an ALREADY-materialized (or persisted) batch
    * projection — the shared core of [[serveStack]] (ad-hoc/batch-twin
    * callers, frame lifecycle owned by the Materialized strategy) and
    * [[processBatch]] (streaming callers, explicit persist +
    * unpersist per batch so a long-running stream never accumulates
    * session-lifetime cache entries under the `persist` strategy). */
  private def gates(d: DataFrame, textCol: String, idCol: String,
      art: Artifacts, minLineWords: Int, minSentences: Int): DataFrame = {
    val gopher = TextAnalysis.gopherSignals(d, textCol, idCol)
      .select("doc_id", "gopher_pass")
    val c4 = TextAnalysis.c4LineFilter(d, textCol, idCol, minLineWords,
      minSentences).select(col("doc_id"), col("kept").as("c4_pass"))
    // the label column only rides along in training frames; the served
    // probability is label-independent
    val lr = LogisticRegression.predictWithWeights(d, textCol, idCol,
      lit(false), art.lrWeights, trainBuckets = 0)
      .select(col("doc_id"), col("prob").as("lr_prob"))
    val ppl = LanguageModel.bucketByThresholds(
      LanguageModel.scoreDocsFromRelations(d, textCol, idCol,
        art.lmPairs, art.lmVocab, art.alpha),
      "lm_score", art.thresholds)
      .select(col("doc_id"), col("bucket").as("ppl_bucket"))
    graft.corpus.CorpusPipeline.composeGates(
      d.select(col(idCol).as("doc_id")), gopher, c4, lr, ppl)
  }

  /** One micro-batch: gate, then idempotently commit the decision
    * frame to `outDir` under its own `batch_id` partition
    * ([[StreamingDecontaminate.processBatch]]'s stateless commit).
    * The batch projection is persisted for the gates' four consumers
    * and RELEASED before returning — the write consumes everything, so
    * the frame lifecycle is the documented consume-before-returning
    * persist/unpersist pattern, never a per-batch session-lifetime
    * entry. */
  def processBatch(batch: DataFrame, batchId: Long, textCol: String,
      idCol: String, art: Artifacts, outDir: String,
      minLineWords: Int = 3, minSentences: Int = 1): Unit = {
    if (batch.isEmpty) return
    val d = batch.select(col(idCol), col(textCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      gates(d, textCol, idCol, art, minLineWords, minSentences)
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(outDir)
    } finally {
      d.unpersist()
      ()
    }
  }

  /** Start the stream: artifacts are pinned ONCE at start (the
    * deploy-time contract — a model refresh is a new deployment, not a
    * mid-stream mutation; the LM alpha rides with them); replays
    * re-run [[processBatch]], which overwrites the same partition with
    * the same rows. */
  def start(docs: DataFrame, textCol: String, idCol: String,
      artifactDir: String, outDir: String, checkpointDir: String,
      minLineWords: Int = 3, minSentences: Int = 1): StreamingQuery = {
    val art = loadArtifacts(docs.sparkSession, artifactDir)
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, textCol, idCol, art, outDir,
          minLineWords, minSentences)
      }
      .option("checkpointLocation", checkpointDir)
      .start()
  }
}
