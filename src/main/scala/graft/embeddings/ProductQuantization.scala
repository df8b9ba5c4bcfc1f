package graft.embeddings

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Product quantization (Jégou et al. 2011, "Product Quantization for
 * Nearest Neighbor Search" — the faiss `PQ{m}` index family): split
 * each unit-normalized vector into `m` subvectors, quantize every
 * subvector to its nearest entry in a per-subspace codebook of `ksub`
 * entries, and store only the m code ids. Against the int8 path
 * ([[Quantization]], 4× smaller than float32) PQ is the next
 * compression rung: m=8 × 1 byte = 8 bytes per 64-dim vector, 32×
 * smaller than float32 — at 100 TB of embeddings the PQ index is ~3 TB
 * and the ADC scan streams codes instead of vectors.
 *
 * Engine design (mirrors the int8/IVF discipline):
 *  - Encoding is MAP-SIDE: one codegen'd [[graft.functions
 *    .VectorAdapters.pqEncode]] kernel call per row, the whole
 *    m×ksub×dsub codebook riding as ONE flat literal (the same
 *    64 KB-codegen-safe shape as the centroid and SRP-plane matrices).
 *  - ADC scoring decodes map-side ([[graft.functions.VectorAdapters
 *    .pqDecode]] — a pure copy of codebook slices, no arithmetic) and
 *    reuses the left-to-right dot/norm kernels, so scores are
 *    engine-exact and the DuckDB oracle can reproduce them from the
 *    same seed-vector codebook.
 *  - Two codebook tiers, exactly like coarse centroids:
 *    [[demoCodebook]] (subvectors of the first `ksub` normalized
 *    corpus vectors — oracle-expressible as `vec_id < ksub`) and
 *    [[trainedCodebook]] (per-subspace Lloyd k-means on a bounded
 *    md5-ordered sample — deterministic, spec-verified, drop-in).
 */
object ProductQuantization {

  /** Normalize + slice on the driver with the same left-to-right
    * arithmetic as the kernels and the SQL oracle (0-seeded sum of
    * squares; norm 0 → 1 guard). */
  private def normalizedRows(corpus: DataFrame, vecCol: String,
      idCol: String, limit: Int): Array[Array[Double]] =
    corpus.filter(col(idCol) < limit)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect()
      .sortBy(_.getLong(0))
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        val n0 = math.sqrt(s)
        val n = if (n0 == 0.0) 1.0 else n0
        v.map(_ / n)
      }

  /** Seed-vector codebook: entry (s, c) is subvector `s` of the
    * unit-normalized corpus vector with id `c` (`vec_id < ksub`) —
    * the oracle-expressible tier (mirrors [[EmbeddingOps
    * .ivfCentroids]]). Row-major m×ksub×dsub flattening. */
  def demoCodebook(corpus: DataFrame, vecCol: String, idCol: String,
      m: Int, ksub: Int): Array[Double] = {
    val rows = normalizedRows(corpus, vecCol, idCol, ksub)
    require(rows.length >= ksub, s"need ≥ $ksub seed vectors")
    val dim = rows.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val cb = new Array[Double](m * ksub * dsub)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < ksub) {
        System.arraycopy(rows(c), s * dsub, cb, (s * ksub + c) * dsub, dsub)
        c += 1
      }
      s += 1
    }
    cb
  }

  /**
   * Trained codebook: per-subspace Lloyd k-means (L2 metric — PQ
   * quantizes REGIONS of the normalized vector, so squared Euclidean
   * is the right per-subspace objective) over a bounded md5-ordered
   * sample, greedy farthest-point init, ties to the smaller code,
   * empty cells keep their previous entry — bit-deterministic, no RNG,
   * driver-side over ≤ sampleSize·dim doubles (the same training
   * budget as [[EmbeddingOps.kmeansCentroids]]). Same flattening as
   * [[demoCodebook]], so it drops into encode/adcTopK unchanged.
   */
  def trainedCodebook(corpus: DataFrame, vecCol: String, idCol: String,
      m: Int, ksub: Int, iters: Int = 10,
      sampleSize: Int = 4096): Array[Double] = {
    val sample = unitSample(corpus, vecCol, idCol, sampleSize)
    require(sample.length >= ksub, s"need ≥ $ksub sample vectors")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    lloydSubspaces(sample, m, ksub, iters)
  }

  /** The bounded md5-ordered UNIT-normalized training sample every
    * driver-side trainer in the family draws (trainedCodebook,
    * [[Opq.train]]) — ONE implementation so the bit-exactness-critical
    * rules (hash order, 0→1 norm guard) can never diverge between the
    * paths the oracles replay with one shared `psamp`/`osamp` CTE. */
  private[embeddings] def unitSample(corpus: DataFrame, vecCol: String,
      idCol: String, sampleSize: Int): Array[Array[Double]] =
    corpus
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("hk", md5(col("id").cast("string")))
      .orderBy("hk", "id")
      .limit(sampleSize)
      .select("v")
      .collect()
      .map { r =>
        val v = r.getSeq[Double](0).toArray
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        val n0 = math.sqrt(s)
        val n = if (n0 == 0.0) 1.0 else n0
        v.map(_ / n)
      }

  /** The per-subspace Lloyd core shared by [[trainedCodebook]] and
    * [[Opq.train]]'s alternation steps: farthest-point init from
    * element 0, strict-`<` first-wins assignment, sample-order means,
    * empty cell keeps its previous entry. Returns the flat
    * m×ksub×dsub codebook. Input vectors are whatever space the caller
    * trains in (unit-normalized raw, or rotated). */
  private[embeddings] def lloydSubspaces(sample: Array[Array[Double]],
      m: Int, ksub: Int, iters: Int): Array[Double] = {
    val dim = sample.head.length
    val dsub = dim / m
    def l2(a: Array[Double], aOff: Int, b: Array[Double]): Double = {
      var d = 0.0; var j = 0
      while (j < dsub) { val t = a(aOff + j) - b(j); d += t * t; j += 1 }
      d
    }
    val cb = new Array[Double](m * ksub * dsub)
    var s = 0
    while (s < m) {
      val off = s * dsub
      // Greedy farthest-point init in this subspace: seed 0 is the
      // first hash-ordered subvector, each next seed maximizes its
      // min-L2 to the seeds so far (deterministic k-means++ analogue).
      var cents = new Array[Array[Double]](ksub)
      cents(0) = java.util.Arrays.copyOfRange(sample(0), off, off + dsub)
      val minD = sample.map(v => l2(v, off, cents(0)))
      var c = 1
      while (c < ksub) {
        var far = 0; var farScore = Double.NegativeInfinity
        var j = 0
        while (j < sample.length) {
          if (minD(j) > farScore) { farScore = minD(j); far = j }
          j += 1
        }
        cents(c) = java.util.Arrays.copyOfRange(sample(far), off, off + dsub)
        j = 0
        while (j < sample.length) {
          val d = l2(sample(j), off, cents(c))
          if (d < minD(j)) minD(j) = d
          j += 1
        }
        c += 1
      }
      var it = 0
      while (it < iters) {
        val sums = Array.fill(ksub)(new Array[Double](dsub))
        val cnt = new Array[Long](ksub)
        sample.foreach { v =>
          var best = 0; var bestD = Double.PositiveInfinity
          var cc = 0
          while (cc < ksub) {
            val d = l2(v, off, cents(cc))
            if (d < bestD) { bestD = d; best = cc }
            cc += 1
          }
          var j = 0
          while (j < dsub) { sums(best)(j) += v(off + j); j += 1 }
          cnt(best) += 1
        }
        cents = Array.tabulate(ksub) { cc =>
          if (cnt(cc) > 0) sums(cc).map(_ / cnt(cc)) else cents(cc)
        }
        it += 1
      }
      c = 0
      while (c < ksub) {
        System.arraycopy(cents(c), 0, cb, (s * ksub + c) * dsub, dsub)
        c += 1
      }
      s += 1
    }
    cb
  }

  private def cbLit(cb: Array[Double]): Column = typedlit(cb.toSeq)

  /** Reconstruction norm with the same zero guard as the int8 scale
    * (0 → 1): a codebook whose selected cells are all-zero on every
    * subspace would otherwise yield NaN cosines for that neighbor.
    * The oracle's rn2 CTE carries the identical CASE guard. */
  private def guardedNorm(v: Column): Column = {
    val n = EmbeddingOps.norm(v)
    when(n === 0d, lit(1d)).otherwise(n)
  }

  /** Per-vector PQ codes: (vec_id, codes) — codes is an array of m
    * code ids in [0, ksub). Map-side, one kernel call per row. */
  def encode(df: DataFrame, vecCol: String, idCol: String,
      cb: Array[Double], m: Int, ksub: Int): DataFrame =
    df.select(col(idCol).as("vec_id"),
      graft.functions.GraftFunctions.pq_encode(
        col(vecCol).cast("array<double>"), cbLit(cb), m, ksub).as("codes"))

  /** PQ-coded rows as scoring candidates: `codes` (with `vec_id` as
    * `neighbor_id`) replaced by the decoded reconstruction `cv` and its
    * guarded norm `cn`; every other column passes through. */
  private def decoded(codes: DataFrame, cb: Array[Double],
      ksub: Int): DataFrame =
    codes.withColumnRenamed("vec_id", "neighbor_id")
      .withColumn("cv",
        graft.functions.GraftFunctions.pq_decode(col("codes"), cbLit(cb), ksub))
      .withColumn("cn", guardedNorm(col("cv")))
      .drop("codes")

  /**
   * Brute-force ADC top-k: queries keep their FLOAT vectors, the corpus
   * is its PQ codes; each candidate is scored as the cosine of the
   * query against the DECODED reconstruction (asymmetric distance
   * computation — the query side is never quantized, so ADC loses half
   * the quantization error of code-vs-code scoring). Corpus-side
   * encode + decode + norm are ONE map-side projection; the scan this
   * mirrors at serving time reads 8-byte codes, not 256-byte floats.
   */
  def adcTopK(queries: DataFrame, corpus: DataFrame, vecCol: String,
      idCol: String, k: Int, cb: Array[Double], m: Int,
      ksub: Int): DataFrame = {
    // Materialized: without the barrier Catalyst collapses the whole
    // reconstruction (any vecCol expression — e.g. OPQ's rotation —
    // plus encode + decode) into the projection ABOVE the broadcast
    // join, re-evaluating it once per (query, row) PAIR instead of
    // once per corpus row — measured 20× slower at the 100× soak leg
    val rec = graft.operators.Materialized(
      decoded(encode(corpus, vecCol, idCol, cb, m, ksub), cb, ksub))
    EmbeddingOps.topK(EmbeddingOps.querySide(
      EmbeddingOps.prepared(queries, vecCol, idCol)).crossJoin(rec),
      "cosine_pq", k)
  }

  /** The IVF+PQ index row: (cluster, vec_id, codes) — ONE map-side
    * projection (coarse cell via the flat centroid-matrix kernel + the
    * PQ encode kernel). What [[writeIvfPqIndex]] persists,
    * [[ivfPqTopK]] serves in memory, and the streaming ANN index
    * appends per micro-batch. */
  private[graft] def indexRows(corpus: DataFrame, vecCol: String,
      idCol: String, cents: Array[(Long, Array[Double], Double)],
      cb: Array[Double], m: Int, ksub: Int): DataFrame =
    corpus
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("cluster", EmbeddingOps.ivfAssignment(col("v"), cents))
      .select(col("cluster"), col("vec_id"),
        graft.functions.GraftFunctions.pq_encode(
          col("v"), cbLit(cb), m, ksub).as("codes"))

  /** IVF+PQ top-k over a frame of [[indexRows]]: float queries probe
    * their nprobe cells and ADC-score against the decoded codes. Other
    * columns (the growing layout's `batch_id`) are dropped. */
  private def serve(queries: DataFrame, rows: DataFrame, vecCol: String,
      idCol: String, k: Int, nprobe: Int, cb: Array[Double], ksub: Int,
      cents: Array[(Long, Array[Double], Double)]): DataFrame =
    EmbeddingOps.serveCells(queries,
      decoded(rows.select("cluster", "vec_id", "codes"), cb, ksub),
      vecCol, idCol, cents, nprobe, "cosine_pq", k)

  /**
   * IVF + PQ top-k — the canonical large-scale faiss layout
   * ("IVF{nlist},PQ{m}"): the corpus is partitioned by nearest coarse
   * centroid AND stored as m-byte PQ codes; float queries probe their
   * nprobe cells and ADC-score against the decoded reconstructions.
   * One map-side projection builds the entire index row (cell + codes
   * + decoded norm); the probe join is a broadcast of queries×nprobe
   * rows, so the corpus never shuffles — the persisted form of this is
   * [[writeIvfPqIndex]]: a ~3 TB index for a 100 TB corpus.
   */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, vecCol: String,
      idCol: String, k: Int, nlist: Int, nprobe: Int, cb: Array[Double],
      m: Int, ksub: Int,
      centroids: Option[Array[(Long, Array[Double], Double)]] = None)
      : DataFrame = {
    val cents = centroids.getOrElse(
      EmbeddingOps.ivfCentroids(corpus, vecCol, idCol, nlist))
    serve(queries, indexRows(corpus, vecCol, idCol, cents, cb, m, ksub),
      vecCol, idCol, k, nprobe, cb, ksub, cents)
  }

  /**
   * Two-stage retrieval with exact rerank — faiss's refine convention
   * (`IVF{nlist},PQ{m},Refine(Flat)`): stage 1 runs the compressed
   * IVF+PQ ADC scan and keeps the top `rerankK` candidates per query;
   * stage 2 fetches ONLY those candidates' float vectors and re-scores
   * them with the exact cosine, cutting to `k`. At corpus scale the
   * expensive float reads touch |Q|·rerankK rows instead of the corpus,
   * so the refine stage buys back most of the quantization recall loss
   * for a bounded extra cost; the candidate join broadcasts the (small)
   * candidate list against the corpus.
   */
  def ivfPqRerankTopK(queries: DataFrame, corpus: DataFrame,
      vecCol: String, idCol: String, k: Int, nlist: Int, nprobe: Int,
      cb: Array[Double], m: Int, ksub: Int, rerankK: Int,
      centroids: Option[Array[(Long, Array[Double], Double)]] = None)
      : DataFrame =
    exactRerank(queries, corpus, vecCol, idCol, k, rerankK)(
      ivfPqTopK(queries, corpus, vecCol, idCol, rerankK, nlist, nprobe, cb,
        m, ksub, centroids))

  /** Stage 2 of the refine convention: checks `rerankK >= k` before
    * building the stage-1 `candidates` (a top-`rerankK` frame), then
    * re-scores only their (query_id, neighbor_id) pairs with the exact
    * float cosine, cut to k. */
  private[embeddings] def exactRerank(queries: DataFrame, corpus: DataFrame,
      vecCol: String, idCol: String, k: Int, rerankK: Int)(
      candidates: => DataFrame): DataFrame = {
    require(rerankK >= k, s"rerankK=$rerankK must be >= k=$k")
    EmbeddingOps.topK(candidates.select("query_id", "neighbor_id")
      .join(EmbeddingOps.querySide(
        EmbeddingOps.prepared(queries, vecCol, idCol)), "query_id")
      .join(EmbeddingOps.candidateSide(
        EmbeddingOps.prepared(corpus, vecCol, idCol)), "neighbor_id"),
      "cosine", k)
  }

  /**
   * The full production serving path in one call: candidates come from
   * the PERSISTED compressed index ([[writeIvfPqIndex]] — DPP-pruned
   * probe, ADC scoring against stored codes), the exact rerank fetches
   * only the |Q|·rerankK candidate float vectors from `corpus`. With
   * trained centroids/codebook this is
   * `IVF{nlist},PQ{m},Refine(Flat)` end to end: ~3 TB index scan + a
   * bounded float join for a 100 TB corpus.
   */
  def ivfPqRerankTopKFromIndex(queries: DataFrame, indexPath: String,
      corpus: DataFrame, vecCol: String, idCol: String, k: Int,
      nprobe: Int, cb: Array[Double], ksub: Int,
      cents: Array[(Long, Array[Double], Double)], rerankK: Int): DataFrame =
    exactRerank(queries, corpus, vecCol, idCol, k, rerankK)(
      ivfPqTopKFromIndex(queries, indexPath, vecCol, idCol, rerankK, nprobe,
        cb, ksub, cents))

  /** ONE-row report comparing recall@k of the pure-ADC IVF+PQ top-k and
    * of the reranked top-k against the exact float top-k: (k, n_queries,
    * recall_adc, recall_rerank). The refine stage should never lose
    * recall (asserted in ProductQuantizationSpec); this is the number a
    * user reads before choosing rerankK. */
  def rerankRecallAtK(queries: DataFrame, corpus: DataFrame,
      vecCol: String, idCol: String, k: Int, nlist: Int, nprobe: Int,
      cb: Array[Double], m: Int, ksub: Int, rerankK: Int,
      centroids: Option[Array[(Long, Array[Double], Double)]] = None)
      : DataFrame =
    EmbeddingOps.recallVsExact(queries, corpus, vecCol, idCol, k,
      "recall_adc" -> ivfPqTopK(queries, corpus, vecCol, idCol, k, nlist,
        nprobe, cb, m, ksub, centroids),
      "recall_rerank" -> ivfPqRerankTopK(queries, corpus, vecCol, idCol, k,
        nlist, nprobe, cb, m, ksub, rerankK, centroids))

  /**
   * Persist the corpus as an IVF + PQ index: one parquet directory per
   * coarse cluster, each row carrying ONLY the m PQ code ids — the
   * 32×-compressed layout (8 bytes/vector at m=8) the `ivfPqTopK` doc
   * promises. For a 100 TB float32 corpus this index is ~3 TB, and a
   * query batch's probe join reads only its nprobe cluster directories
   * (dynamic partition pruning, asserted in EmbeddingIndexSpec).
   */
  def writeIvfPqIndex(corpus: DataFrame, vecCol: String, idCol: String,
      nlist: Int, path: String, cb: Array[Double], m: Int, ksub: Int,
      centroids: Option[Array[(Long, Array[Double], Double)]] = None): Unit = {
    val cents = centroids.getOrElse(
      EmbeddingOps.ivfCentroids(corpus, vecCol, idCol, nlist))
    graft.io.ParquetSink.writePartitioned(
      indexRows(corpus, vecCol, idCol, cents, cb, m, ksub), path, Seq("cluster"))
  }

  /** Serve IVF+PQ top-k from a persisted [[writeIvfPqIndex]] layout:
    * float queries probe their nprobe cells, the scan reads ONLY the
    * probed cluster directories, decode happens map-side from the
    * codebook literal, and ADC scoring matches the in-memory
    * [[ivfPqTopK]] value-for-value. */
  def ivfPqTopKFromIndex(queries: DataFrame, indexPath: String,
      vecCol: String, idCol: String, k: Int, nprobe: Int,
      cb: Array[Double], ksub: Int,
      cents: Array[(Long, Array[Double], Double)]): DataFrame =
    serve(queries, queries.sparkSession.read.parquet(indexPath), vecCol,
      idCol, k, nprobe, cb, ksub, cents)

  /**
   * Quality report: recall@k of the ADC top-k against the exact float
   * top-k, plus the mean absolute reconstruction error of the decoded
   * codes against the unit-NORMALIZED corpus vectors (the quantity PQ
   * actually approximates) — ONE summary row, decimal-summed like
   * [[Quantization.recallAtK]].
   */
  def recallAtK(queries: DataFrame, corpus: DataFrame, vecCol: String,
      idCol: String, k: Int, cb: Array[Double], m: Int,
      ksub: Int): DataFrame =
    EmbeddingOps.recallVsExact(queries, corpus, vecCol, idCol, k,
      "recall_at_k" -> adcTopK(queries, corpus, vecCol, idCol, k, cb, m, ksub))
      .crossJoin(meanAbsErr(corpus, vecCol, idCol, cb, m, ksub))

  /** ONE row (mean_abs_err): the mean |unit(v)_i − rv_i| of the decoded
    * codes against the unit-normalized vectors of `corpus` (OPQ passes
    * its rotated frame). Per-element rounding is deterministic and the
    * decimal sum is exact and commutative, so the mean is engine- and
    * partitioning-exact. */
  private[embeddings] def meanAbsErr(corpus: DataFrame, vecCol: String,
      idCol: String, cb: Array[Double], m: Int, ksub: Int): DataFrame = {
    val nv = col("v_norm")
    encode(corpus, vecCol, idCol, cb, m, ksub)
      .withColumn("rv",
        graft.functions.GraftFunctions.pq_decode(col("codes"), cbLit(cb), ksub))
      .join(corpus.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v")), "vec_id")
      .withColumn("n0", EmbeddingOps.norm(col("v")))
      .withColumn("v_norm",
        when(col("n0") === 0d, lit(1d)).otherwise(col("n0")))
      .select(explode(zip_with(
        transform(col("v"), x => x / nv), col("rv"),
        (u, r) => abs(u - r))).as("e"))
      .select(round(col("e"), 9).cast("decimal(28,9)").as("e9"))
      .agg(round(sum(col("e9")).cast("double") / count(lit(1)), 6)
        .as("mean_abs_err"))
  }
}
