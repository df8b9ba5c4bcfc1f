package graft.streaming

import graft.embeddings.{EmbeddingOps, ProductQuantization}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * INCREMENTAL ANN serving index — the persisted IVF+PQ layout
 * ([[graft.embeddings.ProductQuantization.writeIvfPqIndex]]) grown per
 * micro-batch instead of rebuilt (round-12 verdict ask #4, carried from
 * r11: the serving indexes were rebuild-only while the dedup/semdedup
 * growing indexes already appended).
 *
 * Contract: the MODEL (coarse centroids + PQ codebook) is FIXED for the
 * index's lifetime — cluster ids and code ids must mean the same thing
 * in every epoch, exactly like [[StreamingSemdedup]]'s centroids and
 * [[StreamingDedup]]'s minhash permutations. New vectors are
 * append-ENCODED into their coarse cells; re-TRAINING is a new index
 * (build one alongside, swap serving paths). [[stalenessReport]] is the
 * gauge for when: it compares each cell's current occupancy against the
 * training-time balance persisted with the model.
 *
 * Exactly-once: each batch's corpus rows and index rows are committed
 * through [[GrowingIndex.commit]] — a dynamic overwrite of the batch's
 * OWN `batch_id` partition. The replay argument here is PURELY the
 * idempotent-overwrite one and needs no content matching at all:
 * encoding is deterministic under the fixed model, so a replayed batch
 * recomputes byte-identical rows and the overwrite replaces its own
 * partitions with themselves, in every crash window (before the corpus
 * write / between the two writes / after both).
 *
 * Scale shape: the index carries one (cluster, vec_id, codes) row per
 * vector — the same 32×-compressed layout as the rebuild path — and is
 * sub-partitioned by `cluster` INSIDE each batch partition, so a
 * query's probe join prunes to its nprobe cell directories in every
 * epoch ([[GrowingIndex.commit]]'s `indexSubCols`). Serving reads the
 * growing directory through the UNCHANGED
 * [[graft.embeddings.ProductQuantization.ivfPqTopKFromIndex]] — the row
 * set is bit-identical to a full rebuild's, which is the correctness
 * gate (`ann_index_incremental` shares the rebuild oracle).
 */
object StreamingAnnIndex {

  /** The frozen per-index model: coarse centroids (id, vector, norm),
    * flat PQ codebook, and its (m, ksub) geometry. */
  final case class AnnModel(m: Int, ksub: Int,
      cents: Array[(Long, Array[Double], Double)], cb: Array[Double])

  /** Persist the model plus the TRAINING-TIME cell balance (per-cell
    * counts of `trainCorpus` under the frozen assignment) —
    * [[stalenessReport]]'s baseline. Layout: `<path>/centroids`,
    * `<path>/codebook`, `<path>/cell_balance` (all tiny parquet;
    * doubles round-trip bit-exactly). */
  def writeModel(spark: SparkSession, trainCorpus: DataFrame,
      vecCol: String, idCol: String, model: AnnModel,
      path: String): Unit = {
    import spark.implicits._
    model.cents.toSeq.map { case (cid, c, nrm) => (cid, c.toSeq, nrm) }
      .toDF("cluster", "c", "nrm")
      .repartition(1).write.mode("overwrite").parquet(s"$path/centroids")
    Seq((model.m, model.ksub, model.cb.toSeq)).toDF("m", "ksub", "cb")
      .repartition(1).write.mode("overwrite").parquet(s"$path/codebook")
    trainCorpus
      .select(col(vecCol).cast("array<double>").as("v"))
      .withColumn("cluster", EmbeddingOps.ivfAssignment(col("v"), model.cents))
      .groupBy("cluster").agg(count(lit(1)).as("n_train"))
      .repartition(1).write.mode("overwrite")
      .parquet(s"$path/cell_balance")
  }

  /** Load a persisted model — bounded collects (nlist rows + 1 row). */
  def loadModel(spark: SparkSession, path: String): AnnModel = {
    val cents = spark.read.parquet(s"$path/centroids")
      .select("cluster", "c", "nrm").orderBy("cluster").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    val g = spark.read.parquet(s"$path/codebook")
      .select("m", "ksub", "cb").head()
    AnnModel(g.getInt(0), g.getInt(1), cents, g.getSeq[Double](2).toArray)
  }

  /** One batch's index rows under the frozen model: (cluster, vec_id,
    * codes) — the rebuild path's `writeIvfPqIndex` rows. */
  def indexRows(batch: DataFrame, vecCol: String, idCol: String,
      model: AnnModel): DataFrame =
    ProductQuantization.indexRows(batch, vecCol, idCol, model.cents,
      model.cb, model.m, model.ksub)

  /** One micro-batch: append the raw vectors to `outDir` (the rerank /
    * refit corpus) and their encoded cells to `indexDir`, idempotently
    * per `batchId`, cluster-sub-partitioned for probe pruning. */
  def processBatch(batch: DataFrame, batchId: Long, vecCol: String,
      idCol: String, model: AnnModel, indexDir: String,
      outDir: String): Unit = {
    if (batch.isEmpty) return
    GrowingIndex.commit(batch, indexRows(batch, vecCol, idCol, model),
      batchId, outDir, indexDir, indexSubCols = Seq("cluster"))
  }

  /** Start the streaming query: `vecs` is a streaming DataFrame with
    * `idCol` and `vecCol`. Checkpointed; a replayed batch re-encodes
    * deterministically and overwrites its own partitions (see the
    * harness doc for the crash-window walk). */
  def start(vecs: DataFrame, vecCol: String, idCol: String,
      model: AnnModel, indexDir: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    vecs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, vecCol, idCol, model, indexDir, outDir)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** Serve top-k from the growing layout — the UNCHANGED rebuild-path
    * reader (the growing directory carries the same (cluster, vec_id,
    * codes) columns; `batch_id` is ignored by the projection and the
    * probe join prunes the cluster sub-directories). */
  def topKFromIndex(queries: DataFrame, indexDir: String, vecCol: String,
      idCol: String, k: Int, nprobe: Int, model: AnnModel): DataFrame =
    ProductQuantization.ivfPqTopKFromIndex(queries, indexDir, vecCol,
      idCol, k, nprobe, model.cb, model.ksub, model.cents)

  /** Fold the per-epoch partition tail of the corpus+index pair
    * ([[GrowingIndex.compact]]) keeping the index's cluster
    * sub-partitioning — serving reads stay probe-pruned after
    * compaction. Run only while the stream is stopped. */
  def compact(spark: SparkSession, outDir: String, indexDir: String,
      targetFiles: Int = 8): (Long, Long) =
    GrowingIndex.compact(spark, outDir, indexDir, targetFiles,
      indexSubCols = Seq("cluster"))

  /** Right-to-be-forgotten on the growing ANN pair: corpus-first
    * deletion with the index rewrite keeping the `cluster`
    * sub-partitioning ([[GrowingIndex.deleteKeysSub]]) — probe-side
    * DPP pruning survives. No aggregate layer to repair (the
    * staleness report reads the live index). Run while the stream is
    * stopped, checkpoint committed. */
  def deleteVectors(spark: SparkSession, outDir: String, indexDir: String,
      vecIds: DataFrame): (Long, Long) =
    GrowingIndex.deleteKeysSub(spark, outDir, indexDir, "vec_id", vecIds,
      indexSubCols = Seq("cluster"))

  /** The RETRAIN RESPONSE the staleness report gauges (round-14
    * verdict ask #5): rebuild the serving index FROM THE GROWN CORPUS
    * under a retrained model, into a FRESH growing layout at
    * `newIndexDir` — epoch 0 holds the full re-encode; the stream
    * resumes appending batch 1+ under the new model. The corpus (the
    * raw-vector side of the growing pair) is the source of truth; the
    * old index is never read. A static overwrite clears any earlier
    * failed rebuild attempt, and the layout keeps the `cluster`
    * sub-partitioning, so probe pruning holds from the first serve.
    * Serving from the rebuilt layout is bit-identical to a fresh
    * `writeIvfPqIndex` build over the same vectors — the rebuild
    * oracle gates it (`ann_index_reindex`). Returns the indexed-vector
    * count. */
  def reindex(spark: SparkSession, corpusDir: String, vecCol: String,
      idCol: String, newModel: AnnModel, newIndexDir: String): Long = {
    val corpus = spark.read.parquet(corpusDir)
    indexRows(corpus, vecCol, idCol, newModel)
      .withColumn("batch_id", lit(0L))
      .write.mode("overwrite")
      .partitionBy("batch_id", "cluster")
      .parquet(newIndexDir)
    spark.read.parquet(newIndexDir).count()
  }

  /** ATOMIC serving-path swap: `<servingRoot>/CURRENT` names the live
    * (indexDir, modelPath) pair; readers resolve it per query via
    * [[current]]. The swap is a [[CurrentPointer]] rename, so a reader
    * sees the OLD pair or the NEW pair, never a partial file. Crash
    * windows: die before the rename → CURRENT untouched, the orphan tmp
    * is overwritten by the next publish; die after → the swap is
    * complete. The retrain cycle is therefore: [[reindex]] to a fresh
    * dir → [[publish]] → retire the old dir at leisure. */
  def publish(spark: SparkSession, servingRoot: String, indexDir: String,
      modelPath: String): Unit =
    CurrentPointer.write(spark, servingRoot, indexDir, modelPath)

  /** Resolve the live (indexDir, modelPath) pair under `servingRoot`;
    * a malformed pointer throws `IllegalArgumentException`. */
  def current(spark: SparkSession, servingRoot: String): (String, String) =
    CurrentPointer.read(spark, servingRoot).getOrElse(
      throw new java.io.FileNotFoundException(
        s"no CURRENT pointer at $servingRoot"))

  /** STALENESS report — per coarse cell, current occupancy vs the
    * training-time balance persisted with the model: (cluster, n_train,
    * n_now, share_train, share_now, drift). A cell whose share drifts
    * far from its training share is evidence the frozen centroids no
    * longer fit the data distribution and the index should be retrained
    * (the faiss re-train guidance, made measurable). Shares and drift
    * are 4-dp with a `+ 0.0` pin (a negative drift rounding to zero
    * must not read −0.0). One hash agg over the compressed index + a
    * broadcast-size join against the nlist-row balance relation. */
  def stalenessReport(spark: SparkSession, indexDir: String,
      modelPath: String): DataFrame = {
    val bal = spark.read.parquet(s"$modelPath/cell_balance")
    // one scan of the compressed index: the nlist-bounded grouped
    // relation is materialized and feeds both the per-cell join and
    // the total
    val now = graft.operators.Materialized(spark.read.parquet(indexDir)
      .groupBy("cluster").agg(count(lit(1)).as("n_now_0")))
    val totals = bal.agg(sum(col("n_train")).as("t_train"))
      .crossJoin(now.agg(sum(col("n_now_0")).as("t_now")))
    bal.join(now, Seq("cluster"), "full_outer")
      .crossJoin(broadcast(totals))
      .select(col("cluster"),
        coalesce(col("n_train"), lit(0L)).as("n_train"),
        coalesce(col("n_now_0"), lit(0L)).as("n_now"),
        col("t_train"), col("t_now"))
      .select(col("cluster"), col("n_train"), col("n_now"),
        (round(col("n_train").cast("double") / col("t_train"), 4) + 0.0)
          .as("share_train"),
        (round(col("n_now").cast("double") / col("t_now"), 4) + 0.0)
          .as("share_now"),
        (round(col("n_now").cast("double") / col("t_now") -
          col("n_train").cast("double") / col("t_train"), 4) + 0.0)
          .as("drift"))
  }
}
