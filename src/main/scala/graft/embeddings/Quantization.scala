package graft.embeddings

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Int8 scalar quantization for embedding columns — the storage/bandwidth
 * lever for ANN at corpus scale. A 100 TB embedding table shrinks ~4×
 * when the float32 vectors are stored as int8 codes + one float scale
 * per vector, and every shuffle in the LSH/IVF candidate joins moves 4×
 * fewer bytes. The reference pipeline has no embedding support at all;
 * this is part of the engine's training-data-pipeline surface.
 *
 * Scheme: symmetric per-vector max-abs quantization (the faiss
 * `ScalarQuantizer` QT_8bit_direct family / ONNX-style symmetric
 * linear quantization):
 *
 *   scale = max_i |v_i| / 127        (1.0 for the all-zero vector)
 *   q_i   = round(v_i / scale)       ∈ [-127, 127]
 *
 * Properties this engine leans on:
 *  - COSINE IS SCALE-FREE: cos(q_a·s_a, q_b·s_b) = cos(q_a, q_b), so
 *    quantized scoring needs only the int codes — the scales matter
 *    for reconstruction, not for similarity ranking.
 *  - Everything is deterministic IEEE arithmetic + HALF_UP rounding,
 *    identical in Spark and the DuckDB oracle (both round doubles half
 *    away from zero), so the codes are engine-exact and hash-checkable.
 *  - Quantization is a pure map-side projection (built-in higher-order
 *    functions, no UDF, no shuffle); dequantized scoring reuses the
 *    codegen'd dot kernel on the exactly-representable int values.
 */
object Quantization {

  private def maxAbs(v: Column): Column =
    array_max(transform(v, x => abs(x)))

  /** Quantization step: maxabs/127, or 1.0 for the all-zero vector
    * (avoids a 0/0 NaN; the codes are all zero either way). */
  private def scaleOf(m: Column): Column =
    when(m === 0d, lit(1d)).otherwise(m / 127d)

  private def codesOf(v: Column, scale: Column): Column =
    transform(v, x => round(x / scale).cast("int"))

  /** Per-vector symmetric int8 codes: (vec_id, scale, q). */
  def quantize(df: DataFrame, vecCol: String, idCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    df.select(col(idCol).as("vec_id"), v.as("v"))
      .withColumn("scale", scaleOf(maxAbs(col("v"))))
      .select(col("vec_id"), col("scale"),
        codesOf(col("v"), col("scale")).as("q"))
  }

  /** Quantized codes widened for scoring, in [[EmbeddingOps.prepared]]
    * shape: vec_id, v (codes as doubles — int8 values are exactly
    * representable), nrm (L2 norm of the codes). Materialized once for
    * the multi-consumer joins. */
  private def scored(df: DataFrame, vecCol: String, idCol: String): DataFrame =
    graft.operators.Materialized(
      quantize(df, vecCol, idCol)
        .select(col("vec_id"), col("scale"),
          col("q").cast("array<double>").as("v"))
        .withColumn("nrm", EmbeddingOps.norm(col("v"))))
      // `scale` is materialized and dropped only after: with no second
      // reference Catalyst inlines it into the codes lambda, re-running
      // max|v| once per element (ann_quantized_topk ~1.6× slower)
      .drop("scale")

  /**
   * Exact top-k over the QUANTIZED codes (cosine of int8 code vectors;
   * scales cancel — see object doc). Brute-force |Q|×|C| like
   * [[EmbeddingOps.bruteForceTopK]]; at corpus scale the codes drop
   * into the same LSH/IVF candidate structures with 4× smaller
   * payloads — this is the correctness anchor for that path.
   */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame,
      vecCol: String, idCol: String, k: Int): DataFrame =
    EmbeddingOps.topK(
      EmbeddingOps.querySide(scored(queries, vecCol, idCol))
        .crossJoin(EmbeddingOps.candidateSide(scored(corpus, vecCol, idCol))),
      "cosine_q", k)

  /**
   * IVF + SQ8 top-k — the production ANN shape (faiss "IVF,SQ8"): the
   * corpus is partitioned by nearest coarse centroid AND stored as int8
   * codes; queries probe their nprobe cells with the FLOAT vector and
   * score asymmetrically against the codes (ADC — cosine is scale-free,
   * so dequantization is free, see object doc). Relative to
   * [[EmbeddingOps.ivfTopK]] the probe join moves 4×-smaller corpus
   * payloads; relative to [[quantizedTopK]] only the probed cells are
   * scored. It serves the in-memory [[indexRows]] — the rows
   * [[writeIvfSq8Index]] persists and [[ivfSq8TopKFromIndex]] reads back.
   */
  def ivfQuantizedTopK(queries: DataFrame, corpus: DataFrame,
      vecCol: String, idCol: String, k: Int, nlist: Int, nprobe: Int,
      centroids: Option[Array[(Long, Array[Double], Double)]] = None)
      : DataFrame = {
    val cents = centroids.getOrElse(
      EmbeddingOps.ivfCentroids(corpus, vecCol, idCol, nlist))
    serve(queries, indexRows(corpus, vecCol, idCol, cents), vecCol, idCol, k,
      nprobe, cents)
  }

  /**
   * Persist the corpus as an IVF + SQ8 index: one parquet directory per
   * coarse cluster, each row carrying the int8 codes and the per-vector
   * scale INSTEAD of the float vector — the ~4×-smaller on-disk layout
   * of the rows `ivfQuantizedTopK` serves in memory. At 100 TB of
   * float32 embeddings the persisted
   * index is ~25 TB, and a query batch's probe join reads only its
   * nprobe cluster directories (dynamic partition pruning, asserted in
   * EmbeddingIndexSpec).
   */
  def writeIvfSq8Index(corpus: DataFrame, vecCol: String, idCol: String,
      nlist: Int, path: String,
      centroids: Option[Array[(Long, Array[Double], Double)]] = None): Unit = {
    val cents = centroids.getOrElse(
      EmbeddingOps.ivfCentroids(corpus, vecCol, idCol, nlist))
    graft.io.ParquetSink.writePartitioned(
      indexRows(corpus, vecCol, idCol, cents), path, Seq("cluster"))
  }

  /** The SQ8 index row relation: (cluster, vec_id, scale, q) — ONE
    * map-side projection (coarse cell via the flat centroid-matrix
    * kernel + int8 codes). Shared by [[writeIvfSq8Index]],
    * [[ivfQuantizedTopK]] and the streaming SemDeDup index
    * ([[SemanticDedup.corpusIndex]]). */
  private[embeddings] def indexRows(corpus: DataFrame, vecCol: String,
      idCol: String,
      cents: Array[(Long, Array[Double], Double)]): DataFrame =
    corpus
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("cluster", EmbeddingOps.ivfAssignment(col("v"), cents))
      .withColumn("scale", scaleOf(maxAbs(col("v"))))
      .select(col("cluster"), col("vec_id"), col("scale"),
        codesOf(col("v"), col("scale")).as("q"))

  /** SQ8 index rows as scoring candidates: (cluster, neighbor_id, cv, cn)
    * — the codes as doubles and their code norm (cosine is scale-free,
    * so the stored scale is not even read here; it exists for
    * reconstruction consumers). */
  private[embeddings] def codeCandidates(rows: DataFrame): DataFrame =
    rows.select(col("cluster"), col("vec_id").as("neighbor_id"),
        col("q").cast("array<double>").as("cv"))
      .withColumn("cn", EmbeddingOps.norm(col("cv")))

  /** IVF+SQ8 top-k over a frame of [[indexRows]]: ADC scoring of the
    * float queries against the stored codes. */
  private def serve(queries: DataFrame, rows: DataFrame, vecCol: String,
      idCol: String, k: Int, nprobe: Int,
      cents: Array[(Long, Array[Double], Double)]): DataFrame =
    EmbeddingOps.serveCells(queries, codeCandidates(rows), vecCol, idCol,
      cents, nprobe, "cosine_adc", k)

  /** Serve IVF+SQ8 top-k from a persisted [[writeIvfSq8Index]] layout:
    * float queries probe their nprobe cells (same centroids the index
    * was written with), the scan reads ONLY the probed cluster
    * directories, and ADC scoring runs on the stored codes — value-
    * identical to the in-memory [[ivfQuantizedTopK]]. */
  def ivfSq8TopKFromIndex(queries: DataFrame, indexPath: String,
      vecCol: String, idCol: String, k: Int, nprobe: Int,
      cents: Array[(Long, Array[Double], Double)]): DataFrame =
    serve(queries, queries.sparkSession.read.parquet(indexPath), vecCol,
      idCol, k, nprobe, cents)

  /**
   * Quality report for the quantized index: recall@k of the quantized
   * top-k against the exact float top-k, plus the mean absolute
   * reconstruction error — ONE summary row
   * (k, n_queries, recall_at_k, mean_abs_err). The metric a user
   * checks before switching an ANN serving path to int8 codes.
   */
  def recallAtK(queries: DataFrame, corpus: DataFrame,
      vecCol: String, idCol: String, k: Int): DataFrame = {
    val recall = EmbeddingOps.recallVsExact(queries, corpus, vecCol, idCol, k,
      "recall_at_k" -> quantizedTopK(queries, corpus, vecCol, idCol, k))
    // Reconstruction error over the corpus: mean |v_i − q_i·scale|.
    // Per-element rounding is deterministic; the decimal sum is exact
    // and commutative, so the mean is engine- and partitioning-exact.
    val err = quantize(corpus, vecCol, idCol)
      .join(corpus.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v")), "vec_id")
      .select(explode(zip_with(col("v"), col("q"),
        (x, qi) => abs(x - qi.cast("double") * col("scale")))).as("e"))
      .select(round(col("e"), 9).cast("decimal(28,9)").as("e9"))
      .agg(round(sum(col("e9")).cast("double") / count(lit(1)), 6)
        .as("mean_abs_err"))
    recall.crossJoin(err)
  }
}
