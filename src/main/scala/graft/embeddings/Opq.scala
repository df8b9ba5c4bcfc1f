package graft.embeddings

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Optimized Product Quantization (Ge et al. 2013, "Optimized Product
 * Quantization for Approximate Nearest Neighbor Search" — faiss's
 * `OPQ{m}` pre-transform): learn an orthogonal rotation R that
 * minimizes PQ reconstruction error before encoding, so the subspace
 * split cuts across decorrelated, variance-balanced coordinates
 * instead of whatever order the embedding model emitted. The last
 * published tier of the faiss family the engine builds end-to-end
 * (flat → SQ8 → PQ → IVF+PQ → rerank → OPQ+PQ).
 *
 * Training (driver-side over the SAME bounded md5-ordered sample as
 * [[ProductQuantization.trainedCodebook]] — corpus-size-independent,
 * like every trainer in the family):
 *
 *  1. R₀ = eigenbasis of the sample's uncentered second moment
 *     (simultaneous orthogonal iteration, [[eigenBasis]]), rows
 *     permuted by EIGENVALUE ALLOCATION — each eigen direction goes to
 *     the subspace with the smallest running Σ ln λ (Ge's parametric
 *     balance rule), so every subspace carries comparable variance.
 *  2. `alternations` × { rotate sample; per-subspace Lloyd codebook on
 *     the rotated vectors (the [[ProductQuantization.trainedCodebook]]
 *     rules); solve the Procrustes rotation against the
 *     reconstructions: M = Σ c xᵀ, SVD via [[eigenBasis]] of MᵀM,
 *     U = M·V/σ re-orthonormalized, R = U Vᵀ }.
 *  3. A final Lloyd fit syncs the codebook to the final rotation.
 *
 * Every step is plain double arithmetic with PINNED fold orders
 * (ascending-index sums, strict-first-wins argmin/argmax, 1e-12/1e-24
 * guards) — the third determinism discipline — so the DuckDB oracle
 * replays the whole alternation bit-for-bit ([[OpqOracles]]).
 *
 * Serving: the rotation ships as micro-integer weights and applies
 * map-side through the EXACT-integer projection kernel
 * (`pca_project_k` with a zero mean — one codegen'd call per row);
 * encoding/ADC reuse the PQ kernels unchanged in rotated space. At
 * 100 TB the rotation adds one map-side kernel to the same 8-byte-code
 * scan.
 */
object Opq {

  /** Trained model: rotation rows `r` (y_q = Σ r(q)(i)·x_i), the same
    * rotation micro-quantized flat (`ru`, for the exact-integer serve
    * kernel), and the rotated-space codebook in
    * [[ProductQuantization]]'s m×ksub×dsub flattening. */
  final case class Model(d: Int, m: Int, ksub: Int,
      r: Array[Array[Double]], ru: Array[Long], cb: Array[Double])

  // ----------------------------------------------- pinned primitives

  private def dotP(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  private def matvec(rows: Array[Array[Double]], v: Array[Double]): Array[Double] = {
    val out = new Array[Double](rows.length)
    var q = 0
    while (q < rows.length) { out(q) = dotP(rows(q), v); q += 1 }
    out
  }

  /** Gram–Schmidt in ascending column order: subtract ascending-j
    * projections (each dot computed once), normalize with the 1e-12
    * guard. Returns orthonormal columns. */
  private def gramSchmidt(cols: Array[Array[Double]]): Array[Array[Double]] = {
    val d = cols.head.length
    val out = new Array[Array[Double]](cols.length)
    var c = 0
    while (c < cols.length) {
      val v = cols(c).clone()
      var j = 0
      while (j < c) {
        val dj = dotP(out(j), v)
        var i = 0
        while (i < d) { v(i) -= dj * out(j)(i); i += 1 }
        j += 1
      }
      val nrm = math.max(math.sqrt(dotP(v, v)), 1e-12)
      var i = 0
      while (i < d) { v(i) /= nrm; i += 1 }
      out(c) = v
      c += 1
    }
    out
  }

  /**
   * Simultaneous orthogonal iteration on a symmetric d×d matrix:
   * Q₀ = identity columns; each step B_c = A·q_c (ascending c) then
   * [[gramSchmidt]]. Returns the columns (≈ eigenvectors, descending
   * |λ| up to convergence — callers sort by the computed Rayleigh
   * quotients, never by position). Unlike [[Pca.fit]]'s sequential
   * per-component power chain this iterates the whole basis at once,
   * which is what keeps the oracle replay a BOUNDED CTE chain
   * (iters steps) instead of k × iters × k Gram–Schmidt sweeps.
   */
  private[embeddings] def eigenBasis(a: Array[Array[Double]],
      iters: Int): Array[Array[Double]] = {
    val d = a.length
    var q = Array.tabulate(d)(c =>
      Array.tabulate(d)(i => if (i == c) 1.0 else 0.0))
    var t = 0
    while (t < iters) {
      val b = new Array[Array[Double]](d)
      var c = 0
      while (c < d) { b(c) = matvec(a, q(c)); c += 1 }
      q = gramSchmidt(b)
      t += 1
    }
    q
  }

  // --------------------------------------------------------- training

  /** The reconstruction of each rotated sample vector under a codebook
    * (assign strict-`<` first-wins, then concatenate the chosen
    * entries). */
  private def reconstruct(rotated: Array[Array[Double]], cb: Array[Double],
      m: Int, ksub: Int): Array[Array[Double]] = {
    val dim = rotated.head.length
    val dsub = dim / m
    rotated.map { y =>
      val rec = new Array[Double](dim)
      var s = 0
      while (s < m) {
        val off = s * dsub
        var best = 0; var bestD = Double.PositiveInfinity
        var c = 0
        while (c < ksub) {
          var d = 0.0; var j = 0
          val cOff = (s * ksub + c) * dsub
          while (j < dsub) {
            val t = y(off + j) - cb(cOff + j); d += t * t; j += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        System.arraycopy(cb, (s * ksub + best) * dsub, rec, off, dsub)
        s += 1
      }
      rec
    }
  }

  /** Mean squared reconstruction error of the rotated sample under a
    * codebook — the quantity the alternation minimizes (ascending-
    * index, sample-order fold). */
  private[graft] def reconError(rotated: Array[Array[Double]],
      cb: Array[Double], m: Int, ksub: Int): Double = {
    val rec = reconstruct(rotated, cb, m, ksub)
    var s = 0.0; var j = 0
    while (j < rotated.length) {
      var i = 0
      while (i < rotated(j).length) {
        val t = rotated(j)(i) - rec(j)(i); s += t * t; i += 1
      }
      j += 1
    }
    s / rotated.length
  }

  def train(corpus: DataFrame, vecCol: String, idCol: String,
      m: Int = 8, ksub: Int = 16, alternations: Int = 1,
      eigIters: Int = 16, lloydIters: Int = 10,
      sampleSize: Int = 4096): Model = {
    val sample = ProductQuantization.unitSample(corpus, vecCol, idCol, sampleSize)
    require(sample.length >= ksub, s"need ≥ $ksub sample vectors")
    val d = sample.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val dsub = d / m

    // uncentered second moment of the sample (rotation is about the
    // origin — exactly what ADC scores), ascending sample-order folds
    val a = Array.fill(d)(new Array[Double](d))
    sample.foreach { x =>
      var i = 0
      while (i < d) {
        var l = 0
        while (l < d) { a(i)(l) += x(i) * x(l); l += 1 }
        i += 1
      }
    }
    var ni = 0
    while (ni < d) {
      var nl = 0
      while (nl < d) { a(ni)(nl) /= sample.length; nl += 1 }
      ni += 1
    }

    val q = eigenBasis(a, eigIters)
    val lam = q.map(v => dotP(v, matvec(a, v)))
    // eigenvalue allocation: indices by (λ desc, index asc), each to
    // the open subspace with the smallest running Σ ln(max(λ, 1e-12)),
    // ties to the lower subspace index, capacity dsub
    val order = lam.indices.sortBy(i => (-lam(i), i))
    val sums = new Array[Double](m)
    val cap = new Array[Int](m)
    val assign = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Int])
    order.foreach { idx =>
      var best = -1; var bestSum = Double.PositiveInfinity
      var s = 0
      while (s < m) {
        if (cap(s) < dsub && sums(s) < bestSum) { bestSum = sums(s); best = s }
        s += 1
      }
      assign(best) += idx
      sums(best) += math.log(math.max(lam(idx), 1e-12))
      cap(best) += 1
    }
    var r: Array[Array[Double]] = assign.flatMap(_.map(q(_))).toArray

    var cb: Array[Double] = null
    var t = 0
    while (t < alternations) {
      val rotated = sample.map(x => matvec(r, x))
      cb = ProductQuantization.lloydSubspaces(rotated, m, ksub, lloydIters)
      val rec = reconstruct(rotated, cb, m, ksub)
      // Procrustes: M = Σ_j rec_j · x_jᵀ (sample-order fold)
      val mm = Array.fill(d)(new Array[Double](d))
      var j = 0
      while (j < sample.length) {
        var i = 0
        while (i < d) {
          var l = 0
          while (l < d) { mm(i)(l) += rec(j)(i) * sample(j)(l); l += 1 }
          i += 1
        }
        j += 1
      }
      // SVD via the shared eigensolver on MᵀM: V columns, σ from the
      // Rayleigh quotients, U = M·V/σ re-orthonormalized so R = U·Vᵀ
      // stays exactly orthonormal (a product of orthonormal bases)
      val a2 = Array.tabulate(d, d) { (i, l) =>
        var s = 0.0; var kk = 0
        while (kk < d) { s += mm(kk)(i) * mm(kk)(l); kk += 1 }
        s
      }
      val v = eigenBasis(a2, eigIters)
      val u = gramSchmidt(v.map { vc =>
        val mv = new Array[Double](d)
        var i = 0
        while (i < d) { mv(i) = dotP(mm(i), vc); i += 1 }
        val sigma = math.sqrt(math.max(dotP(vc, matvec(a2, vc)), 1e-24))
        mv.map(_ / sigma)
      })
      r = Array.tabulate(d, d) { (rr, l) =>
        var s = 0.0; var c = 0
        while (c < d) { s += u(c)(rr) * v(c)(l); c += 1 }
        s
      }
      t += 1
    }
    // final codebook synced to the final rotation
    val rotatedF = sample.map(x => matvec(r, x))
    cb = ProductQuantization.lloydSubspaces(rotatedF, m, ksub, lloydIters)
    val ru = new Array[Long](d * d)
    var rr = 0
    while (rr < d) {
      var l = 0
      while (l < d) {
        ru(rr * d + l) = math.floor(r(rr)(l) * 1e6 + 0.5).toLong
        l += 1
      }
      rr += 1
    }
    Model(d, m, ksub, r, ru, cb)
  }

  // ---------------------------------------------------------- serving

  /** Map-side rotation of a unit-normalized vector column by the
    * micro-quantized model rotation — the EXACT-integer projection
    * kernel with a zero mean (one codegen'd call per row). */
  def rotated(vec: Column, model: Model): Column = {
    val unit = {
      val v = vec.cast("array<double>")
      val n0 = EmbeddingOps.norm(v)
      val g = when(n0 === 0d, lit(1d)).otherwise(n0)
      transform(v, x => x / g)
    }
    graft.functions.GraftFunctions.pca_project_k(unit,
      typedlit(Seq.fill(model.d)(0L)), typedlit(model.ru.toSeq))
  }

  /** `df` with the vector column replaced by its rotation — the frame
    * the PQ serve family consumes unchanged. */
  def rotatedFrame(df: DataFrame, vecCol: String, idCol: String,
      model: Model): DataFrame =
    df.select(col(idCol).as(idCol), rotated(col(vecCol), model).as(vecCol))

  /** Brute-force ADC top-k in ROTATED space: rotate both sides
    * map-side, then [[ProductQuantization.adcTopK]] with the OPQ
    * codebook — the 8-byte-code scan with one extra kernel per row. */
  def adcTopK(queries: DataFrame, corpus: DataFrame, vecCol: String,
      idCol: String, k: Int, model: Model): DataFrame =
    ProductQuantization.adcTopK(
      rotatedFrame(queries, vecCol, idCol, model),
      rotatedFrame(corpus, vecCol, idCol, model),
      vecCol, idCol, k, model.cb, model.m, model.ksub)

  /**
   * BUILD phase of the complete faiss factory path
   * `OPQ{m},IVF{nlist},PQ{m},Refine(Flat)`: train the coarse quantizer
   * IN ROTATED SPACE (the space the codes live in — clustering the
   * original vectors would misroute probes) and persist the corpus as
   * a rotated-code IVF+PQ index (cluster-partitioned parquet, m bytes
   * per vector). Returns the rotated-space centroids the serve path
   * probes with. One corpus pass; the rotation is the map-side
   * exact-integer kernel.
   */
  def writeProductionIndex(corpus: DataFrame, vecCol: String,
      idCol: String, model: Model, nlist: Int, path: String)
      : Array[(Long, Array[Double], Double)] = {
    // Materialized: rotC feeds TWO actions (the centroid-trainer sample
    // and the index write) — without the barrier the map-side rotation
    // kernel re-runs over the whole corpus for each consumer, the same
    // multi-consumer pattern adcTopK/recallAtK guard against
    val rotC = graft.operators.Materialized(
      rotatedFrame(corpus, vecCol, idCol, model))
    val cents = EmbeddingOps.kmeansCentroids(rotC, vecCol, idCol, nlist)
    ProductQuantization.writeIvfPqIndex(rotC, vecCol, idCol, nlist, path,
      model.cb, model.m, model.ksub, Some(cents))
    cents
  }

  /**
   * SERVE phase: queries rotate map-side, probe their nprobe rotated
   * cells (DPP-pruned scan of the persisted index), ADC-score against
   * the decoded rotated codes to `rerankK` candidates, then the exact
   * float rerank runs on the ORIGINAL vectors (Refine(Flat) — the
   * refine store keeps the raw floats; the bounded |Q|·rerankK join is
   * the only full-precision touch). At 100 TB: ~3 TB index scan
   * gated by partition pruning + one bounded float join.
   */
  def productionTopKFromIndex(queries: DataFrame, indexPath: String,
      corpus: DataFrame, vecCol: String, idCol: String, k: Int,
      nprobe: Int, model: Model,
      cents: Array[(Long, Array[Double], Double)],
      rerankK: Int): DataFrame =
    ProductQuantization.exactRerank(queries, corpus, vecCol, idCol, k,
      rerankK)(ProductQuantization.ivfPqTopKFromIndex(
        rotatedFrame(queries, vecCol, idCol, model), indexPath, vecCol, idCol,
        rerankK, nprobe, model.cb, model.ksub, cents))

  /** Recall@k of the rotated-space ADC against the exact FLOAT top-k
    * on the ORIGINAL vectors (ground truth is rotation-free), plus the
    * mean absolute reconstruction error in rotated space — the same
    * report shape as [[ProductQuantization.recallAtK]], directly
    * comparable to the plain-PQ row (the spec asserts ≤ / ≥). */
  def recallAtK(queries: DataFrame, corpus: DataFrame, vecCol: String,
      idCol: String, k: Int, model: Model): DataFrame =
    EmbeddingOps.recallVsExact(queries, corpus, vecCol, idCol, k,
      "recall_at_k" -> adcTopK(queries, corpus, vecCol, idCol, k, model))
      .crossJoin(ProductQuantization.meanAbsErr(
        // two consumers inside (encode input + the vec_id read-back
        // join): materialize so the rotation kernel runs once
        graft.operators.Materialized(rotatedFrame(corpus, vecCol, idCol, model)),
        vecCol, idCol, model.cb, model.m, model.ksub))
}
