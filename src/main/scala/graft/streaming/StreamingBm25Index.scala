package graft.streaming

import graft.text.{Relevance, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * INCREMENTAL full-text (BM25) serving index — the lexical twin of
 * [[StreamingAnnIndex]]: the persisted bucketed-postings layout
 * ([[graft.text.Relevance.writeBm25Index]]) grown per micro-batch
 * instead of rebuilt.
 *
 * Why the rebuild layout can't simply be appended to: it DENORMALIZES
 * the corpus-global term df into every posting and persists 1-row
 * (n_docs, avgdl) scalars — one new document invalidates the df of
 * every existing posting for its terms and the corpus scalars for all
 * of them. The growing layout therefore stores what a batch can know
 * LOCALLY and defers the global quantities to merge-on-read:
 *
 *  - `indexDir/batch_id=B/bucket=K/` — (term, doc_id, tf, dl)
 *    postings, NO df column. A term's df is, by definition, its
 *    posting-row count, so serve-time df = `count(*) GROUP BY term`
 *    over the query terms' PRUNED postings — exactly the rows the
 *    scorer reads anyway, which is what makes the merge free: no
 *    index-wide pass, no df maintenance on append.
 *  - `statsDir/batch_id=B/` — ONE row per epoch: (n_docs, sum_dl,
 *    buckets). Serve sums them (epoch-count rows, not doc-grain) for
 *    the exact global n_docs and avgdl; `buckets` rides along so the
 *    serve side can never hash with a mismatched count (same
 *    no-serve-side-parameter contract as the rebuild layout's
 *    persisted bucket count).
 *  - `corpusDir/batch_id=B/` — the raw documents, the reindex/retrain
 *    corpus (the analog of the ANN index's rerank corpus).
 *
 * The contract fixed for the index lifetime is the BUCKET COUNT (the
 * analog of the ANN model's frozen centroids): bucket ids must mean
 * the same directory in every epoch. The caller passes the same count
 * to every [[processBatch]] epoch; [[searchFromIndex]] cross-checks
 * the persisted partials and refuses a directory whose epochs
 * disagree.
 *
 * Exactly-once: corpus + postings go through [[GrowingIndex.commit]]
 * (dynamic overwrite of the batch's own `batch_id` partition); the
 * stats partial is written third with the same idempotent-overwrite
 * pattern. Tokenization is deterministic, so a replayed batch
 * recomputes byte-identical rows in all three directories and the
 * overwrites replace themselves — in every crash window (after any
 * prefix of the three writes). A crash after the postings write but
 * before the stats write leaves that epoch's documents searchable but
 * uncounted in (n_docs, avgdl) until the replay lands — a bounded
 * freshness skew, never a duplicate.
 *
 * Scale shape: serving reads |query-term buckets| directories across
 * epochs (the partition filter prunes `bucket=` subtrees inside every
 * `batch_id=` partition), plus an epoch-count-sized stats scan. The
 * df aggregation and the scoring join consume ONE materialization of
 * the pruned postings. Scoring is [[Relevance.scorePostings]] — the
 * same arithmetic object as the rebuild path, so the result is
 * bit-identical to a full rebuild and `bm25_index_incremental` shares
 * the fresh-computation oracle.
 */
object StreamingBm25Index {

  private def postingsFromToks(toks: DataFrame, buckets: Int): DataFrame =
    toks
      .select(col("doc_id"), explode(col("toks")).as("term"),
        size(col("toks")).cast("long").as("dl"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(buckets.toLong)))

  /** One micro-batch: raw docs to `corpusDir`, postings to `indexDir`
    * (bucket-sub-partitioned for query pruning), then the epoch's
    * 1-row (n_docs, sum_dl, buckets) stats partial to `statsDir` —
    * each idempotently replacing its own `batch_id` partition.
    * Documents with zero tokens yield no postings but DO count in the
    * stats partial (the rebuild path's n_docs counts them too).
    * The batch is tokenized ONCE into a materialized (doc_id, toks)
    * frame feeding the postings write, the stats partial and the
    * emptiness guard — the former shape tokenized the batch for the
    * postings and AGAIN for the stats, plus a third scan for
    * `isEmpty` (round-15 optimization; rows identical — tokenization
    * is deterministic). */
  def processBatch(batch: DataFrame, batchId: Long, textCol: String,
      idCol: String, buckets: Int, indexDir: String, corpusDir: String,
      statsDir: String): Unit = {
    require(buckets > 0, "bucket count must be positive")
    // empty-batch short-circuit on the RAW batch (a limit-1 probe)
    // BEFORE any materialization — the former shape paid a full eager
    // checkpoint job per empty micro-batch (round-15 advice)
    if (batch.isEmpty) return
    // consumed entirely before returning, so the lifecycle is
    // caller-owned: persist + try/finally unpersist (the Materialized
    // doc's own convention for this shape) — under the former
    // Materialized(persist-strategy) form each batch's frame stayed
    // registered until releaseAll, growing the cache over a long stream
    val toks = batch.select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      GrowingIndex.commit(batch, postingsFromToks(toks, buckets),
        batchId, corpusDir, indexDir, indexSubCols = Seq("bucket"))
      toks.select(size(col("toks")).cast("long").as("dl"))
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
        .withColumn("buckets", lit(buckets))
        .withColumn("batch_id", lit(batchId))
        .repartition(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(statsDir)
    } finally toks.unpersist(false)
  }

  /** Start the streaming query: `docs` is a streaming DataFrame with
    * `idCol` and `textCol`. Checkpointed; a replayed batch re-tokenizes
    * deterministically and overwrites its own partitions (crash-window
    * walk in the object doc). */
  def start(docs: DataFrame, textCol: String, idCol: String, buckets: Int,
      indexDir: String, corpusDir: String, statsDir: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, textCol, idCol, buckets, indexDir,
          corpusDir, statsDir)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** The growing directory's fixed bucket count — from the stats
    * partials, refusing a directory whose epochs disagree (a mixed
    * count would compute wrong bucket ids and silently drop
    * postings, the exact failure the rebuild layout's persisted
    * count exists to prevent). Bounded collect: ≤2 rows. */
  private def bucketCount(spark: SparkSession, statsDir: String): Int = {
    val counts = spark.read.parquet(statsDir)
      .select(col("buckets")).distinct().limit(2).collect()
    require(counts.length == 1,
      s"growing BM25 index at $statsDir has " +
        (if (counts.isEmpty) "no stats partials (no epoch committed yet)"
         else "epochs written with DIFFERENT bucket counts " +
           s"(${counts.map(_.getInt(0)).sorted.mkString(", ")}) — the " +
           "count is fixed per index lifetime; rebuild into a fresh " +
           "directory to change it"))
    counts.head.getInt(0)
  }

  /** The serve path's postings scan: the query terms' bucket
    * sub-directories across all epochs (partition filter on `bucket` —
    * the pruning is asserted on THIS plan in the spec, because the
    * materialization downstream replaces the scan with its checkpoint
    * in the final served plan). Bucket ids come from the ENGINE's own
    * xxhash64 over a bounded |terms|-row relation — the rebuild serve
    * path's idiom, no hand-rolled hash twin to drift. */
  private[graft] def prunedPostings(spark: SparkSession, indexDir: String,
      qTerms: Array[String], buckets: Int): DataFrame = {
    import spark.implicits._
    val qBuckets = qTerms.toSeq.toDF("t")
      .select(pmod(xxhash64(col("t")), lit(buckets.toLong)).as("b"))
      .distinct().collect().map(r => java.lang.Long.valueOf(r.getLong(0)))
    spark.read.parquet(indexDir)
      .filter(col("bucket").isin(qBuckets: _*))
      .filter(col("term").isin(qTerms: _*))
      .select("doc_id", "term", "tf", "dl")
  }

  /** BM25 over the growing layout, bit-identical to a full rebuild
    * (and to the fresh [[Relevance.bm25]] computation — same oracle):
    * global (n_docs, avgdl) summed from the epoch-count stats
    * partials, per-term df counted over the pruned postings
    * themselves, scoring by the shared [[Relevance.scorePostings]]
    * kernel. Reads |query-term buckets| directories per epoch and the
    * pruned postings exactly once (materialized for the df agg + the
    * scoring join). */
  def searchFromIndex(spark: SparkSession, indexDir: String,
      statsDir: String, query: String, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val qTerms = query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
    require(qTerms.nonEmpty, "query must contain at least one token")
    val buckets = bucketCount(spark, statsDir)
    // the exact global scalars: epoch partials summed (epoch-count
    // rows). avgdl's division shape matches writeBm25Index's
    // sum(dl)::double / count(*) — same integer totals, same IEEE op.
    val stats = spark.read.parquet(statsDir)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sdl"))
      .select(col("n_docs"),
        (col("sdl").cast("double") / col("n_docs")).as("avgdl"))
    val pruned = graft.operators.Materialized(
      prunedPostings(spark, indexDir, qTerms, buckets))
    // merge-on-read df: a term's df IS its posting-row count, and the
    // pruned relation holds every posting of every query term across
    // all epochs — count(*) per term is the exact corpus-global df
    val df = pruned.groupBy("term").agg(count(lit(1)).as("df"))
    Relevance.scorePostings(pruned.join(broadcast(df), "term"), stats, k1, b)
  }

  /** FRESHNESS report over the stats partials — per epoch: document
    * count, token mass and mean document length, plus each epoch's
    * share of the corpus. The gauge for BM25's one corpus-global
    * ranking input: avgdl drifting across epochs means the length
    * normalization the early documents were scored under no longer
    * describes the corpus (the retrain-trigger analog of
    * [[StreamingAnnIndex.stalenessReport]]). Epoch-count rows; 4-dp
    * with a `+ 0.0` pin so a vanishing share can't read −0.0. */
  def freshnessReport(spark: SparkSession, statsDir: String): DataFrame = {
    val parts = graft.operators.Materialized(
      spark.read.parquet(statsDir)
        .select(col("batch_id").cast("long").as("batch_id"),
          col("n_docs"), col("sum_dl")))
    val totals = parts.agg(sum(col("n_docs")).as("t_docs"))
    parts.crossJoin(broadcast(totals))
      .select(col("batch_id"), col("n_docs"),
        (round(col("sum_dl").cast("double") / col("n_docs"), 4) + 0.0)
          .as("avgdl"),
        (round(col("n_docs").cast("double") / col("t_docs"), 4) + 0.0)
          .as("doc_share"))
  }

  /** Right-to-be-forgotten on the growing BM25 triple. Unlike the
    * dedup/ANN pairs, this index persists per-epoch AGGREGATES
    * (n_docs, sum_dl) that deletion invalidates, so the stats layer is
    * REBUILT from the surviving corpus after the pair delete: one
    * tokenizing aggregation per surviving epoch partition (epoch-grain
    * work, not corpus-grain rescans of history — the corpus read is
    * exactly the partitions a rebuild of stats needs), written as a
    * full overwrite so stale partials of fully-emptied epochs vanish.
    * The postings rewrite keeps the `bucket` sub-partitioning
    * ([[GrowingIndex.deleteKeysSub]]), so serve-side pruning survives.
    * Post-state invariant (spec-gated): searching the post-delete
    * index is bit-identical to an index grown from the surviving
    * documents alone. Run while the stream is stopped, checkpoint
    * committed — the `GrowingIndex.deleteKeys` contract. */
  def deleteDocs(spark: SparkSession, corpusDir: String, indexDir: String,
      statsDir: String, textCol: String, docIds: DataFrame): (Long, Long) = {
    val buckets = bucketCount(spark, statsDir)
    // one keyCol addresses BOTH dirs (the deleteKeys contract), so the
    // committed corpus must carry its id under the postings' grain name
    val counts = GrowingIndex.deleteKeysSub(spark, corpusDir, indexDir,
      "doc_id", docIds, indexSubCols = Seq("bucket"))
    if (counts._1 == 0L) {
      // every document deleted: drop the stats layer too — a later
      // serve fails loudly ("no stats partials") instead of scoring
      // against stale corpus scalars
      val p = new org.apache.hadoop.fs.Path(statsDir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
      return counts
    }
    val survivors = spark.read.parquet(corpusDir)
    survivors
      .select(col("batch_id").cast("long").as("batch_id"),
        size(TextAnalysis.tokens(col(textCol))).cast("long").as("dl"))
      .groupBy("batch_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .withColumn("buckets", lit(buckets))
      .repartition(1)
      .write.mode("overwrite")
      .partitionBy("batch_id")
      .parquet(statsDir)
    counts
  }

  /** Fold the per-epoch partition tail of the corpus+postings pair
    * ([[GrowingIndex.compact]]) keeping the postings' bucket
    * sub-partitioning — query pruning survives compaction. The stats
    * partials are NOT compacted: they are epoch-count rows (one per
    * micro-batch), not doc-grain, and folding them would erase the
    * per-epoch freshness history for no file-count relief. Run only
    * while the stream is stopped. */
  def compact(spark: SparkSession, corpusDir: String, indexDir: String,
      targetFiles: Int = 8): (Long, Long) =
    GrowingIndex.compact(spark, corpusDir, indexDir, targetFiles,
      indexSubCols = Seq("bucket"))
}
