package graft.embeddings

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
 * Data-efficient learning at web-scale through semantic deduplication"):
 * cluster the embedding space coarsely, then look for near-duplicate
 * pairs ONLY inside each cluster — the standard way to make
 * embedding-level dedup tractable on a web-scale corpus, where the
 * exact all-pairs comparison ([[EmbeddingOps.cosinePairs]]) is O(n²)
 * and the reference pipeline has no embedding dedup at all.
 *
 * Scale design (the 100 TB story):
 *  - Cluster assignment is MAP-SIDE: one codegen'd
 *    nearest-centroid kernel call per row against a broadcast-literal
 *    centroid matrix (the same flat-matrix kernel as IVF — no join, no
 *    shuffle, no 64 KB-codegen blowup).
 *  - The only shuffle is on `cluster`; the pairwise comparison runs
 *    inside clusters, so total work is Σ|cluster|² instead of n².
 *    Size the centroid count with [[nlistForCount]] (n / ~512) so the
 *    expected per-cluster population stays constant as the corpus
 *    grows — the same "parameters must track n" lesson the round-5/6
 *    soaks taught for LSH planes and simhash keys.
 *  - `maxCluster` is the degenerate-cell guard (mirrors LSH
 *    `maxBucket`): an embedding-collapse pileup (all-zero vectors, a
 *    dead model dimension) would otherwise reintroduce the quadratic
 *    join through one mega-cluster. Dropping such a cluster loses only
 *    pairs whose members ALL collapsed to the same degenerate region.
 *
 * Keeper rule (deterministic, engine-portable): within each near-dup
 * pair the survivor is the vector with the LOWER rounded
 * cosine-to-centroid — SemDeDup's "keep the example farthest from the
 * cluster centroid" criterion, which retains the most peripheral (most
 * informative) representative — with ties broken by the smaller id. A
 * vector is removed iff SOME same-cluster neighbour at cosine ≥
 * threshold dominates it under that (centroid_cos, id) order; the
 * minimal element of every connected dup group therefore always
 * survives, and the rule needs no iterative component computation.
 */
object SemanticDedup {

  /** Centroid count that keeps E[|cluster|] ≈ `target` as the corpus
    * grows: ⌈n / target⌉ clamped to [8, 65536]. The per-cluster
    * self-join is quadratic in cluster population, so nlist must track
    * n — a fixed nlist is the same superlinear trap as fixed LSH plane
    * counts (SOAK_r05.md finding 3). */
  def nlistForCount(n: Long, target: Long = 512L): Int = {
    val t = math.max(1L, target)
    // overflow-safe ceil-div: n + t - 1 wraps for n near Long.MaxValue
    val clusters = n / t + (if (n % t == 0L) 0L else 1L)
    math.max(8L, math.min(65536L, clusters)).toInt
  }

  /** Vectors with cluster id and rounded cosine-to-own-centroid.
    * Assignment and scoring are one projection: the nearest-centroid
    * kernel picks the cluster, a broadcast join against the nlist-row
    * centroid relation fetches the centroid vector for the exact
    * cosine. Output: vec_id, v, nrm, cluster, centroid_cos. */
  private[embeddings] def assigned(df: DataFrame, vecCol: String,
      idCol: String,
      cents: Array[(Long, Array[Double], Double)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val p = EmbeddingOps.prepared(df, vecCol, idCol)
      .withColumn("cluster", EmbeddingOps.ivfAssignment(col("v"), cents))
    // nlist rows of (cid, centroid, norm): always broadcastable — nlist
    // is bounded by nlistForCount's clamp, and at 65536×64 doubles it is
    // ~32 MB, within Spark's broadcast comfort zone.
    val centDf = cents.toSeq.map { case (cid, cv, cn) => (cid, cv, cn) }
      .toDF("cluster", "cv", "cn")
    p.join(broadcast(centDf), "cluster")
      .select(col("vec_id"), col("v"), col("nrm"), col("cluster"),
        EmbeddingOps.roundedCosine(col("v"), col("nrm"), col("cv"), col("cn"))
          .as("centroid_cos"))
  }

  /**
   * Intra-cluster near-duplicate pairs: (cluster, id_a, id_b, cosine)
   * for every same-cluster pair with exact cosine ≥ threshold. The
   * recall contract is explicit: a pair is reported iff BOTH members
   * land in the same (non-degenerate) cluster — the SemDeDup
   * approximation; [[EmbeddingOps.cosinePairs]] is the exact baseline.
   */
  def pairs(df: DataFrame, vecCol: String, idCol: String,
      cents: Array[(Long, Array[Double], Double)], threshold: Double,
      maxCluster: Long = 100000L): DataFrame = {
    // Materialized (RDD-owned blocks, no CacheManager entry): the
    // assignment feeds both sides of the self-join and the cap count.
    val a = graft.operators.Materialized(
      assigned(df, vecCol, idCol, cents))
    val keep = a.groupBy("cluster").agg(count(lit(1)).as("cluster_n"))
      .where(col("cluster_n") <= maxCluster)
      .select("cluster")
    val c = a.join(keep, "cluster")
    c.select(col("cluster"), col("vec_id").as("id_a"),
        col("v").as("va"), col("nrm").as("na"))
      .join(c.select(col("cluster"), col("vec_id").as("id_b"),
        col("v").as("vb"), col("nrm").as("nb")), Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .select(col("cluster"), col("id_a"), col("id_b"),
        EmbeddingOps.roundedCosine(col("va"), col("na"), col("vb"), col("nb"))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /**
   * Per-vector keep/remove verdict: (vec_id, cluster, centroid_cos,
   * is_kept). A vector is removed iff some same-cluster neighbour at
   * cosine ≥ threshold has a strictly smaller (centroid_cos, vec_id) —
   * see the keeper rule in the object doc. The invariant is
   * group-level, not pair-level: the minimal (centroid_cos, vec_id)
   * element of each CONNECTED dup group always survives, but an
   * individual pair may lose both members when each is dominated by a
   * third neighbour (chain z<x<y under the order, cos(z,x) ≥ t and
   * cos(x,y) ≥ t: x loses to z, y loses to x, only z survives).
   */
  def keepers(df: DataFrame, vecCol: String, idCol: String,
      cents: Array[(Long, Array[Double], Double)], threshold: Double,
      maxCluster: Long = 100000L): DataFrame = {
    val a = graft.operators.Materialized(
      assigned(df, vecCol, idCol, cents))
    val keep = a.groupBy("cluster").agg(count(lit(1)).as("cluster_n"))
      .where(col("cluster_n") <= maxCluster)
      .select("cluster")
    val c = a.join(keep, "cluster")
    // Dominated side of every qualifying pair; both orientations are
    // generated by the one join (x dominated by y).
    val removed = c.select(col("cluster"), col("vec_id").as("id_x"),
        col("v").as("vx"), col("nrm").as("nx"),
        col("centroid_cos").as("cc_x"))
      .join(c.select(col("cluster"), col("vec_id").as("id_y"),
        col("v").as("vy"), col("nrm").as("ny"),
        col("centroid_cos").as("cc_y")), Seq("cluster"))
      .filter(col("id_x") =!= col("id_y") &&
        EmbeddingOps.roundedCosine(col("vx"), col("nx"), col("vy"),
          col("ny")) >= threshold &&
        (col("cc_y") < col("cc_x") ||
          (col("cc_y") === col("cc_x") && col("id_y") < col("id_x"))))
      .select(col("id_x").as("vec_id"))
      .distinct()
    a.join(removed.withColumn("removed", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("centroid_cos"),
        coalesce(!col("removed"), lit(true)).as("is_kept"))
  }

  /**
   * SEMANTIC decontamination: training vectors whose embedding is
   * near-duplicate of an EVAL benchmark vector — the embedding-level
   * analog of `TextDedup.contaminationPairs` (which catches verbatim
   * n-gram leaks; this catches paraphrased/reworded leaks the shingle
   * path cannot see, the gap the Dolma/FineWeb decontamination
   * write-ups call out). Output: (cluster, vec_id, bench_id, cosine)
   * for every (train, bench) pair at exact cosine ≥ threshold within
   * the probed cells.
   *
   * Scale shape is deliberately ASYMMETRIC, unlike [[pairs]]: the
   * train side is 100 TB-grain so it gets the map-side single-cell
   * assignment (one codegen'd kernel call per row, shuffle only on
   * `cluster`); the BENCH side is an eval suite — thousands of rows,
   * not billions — so it can afford to probe its `nprobe` nearest
   * cells, which buys back most of the cell-boundary recall SemDeDup
   * forfeits (a leaked rewrite sitting just across its bench item's
   * cell edge is exactly the case decontamination cannot afford to
   * miss). A (train, bench) pair lands at most once: the train vector
   * lives in ONE cell and the bench probe list is distinct.
   * `maxCell` drops degenerate train cells (embedding-collapse
   * pileups), mirroring [[pairs]]' cap.
   */
  def semanticContaminationPairs(train: DataFrame, bench: DataFrame,
      vecCol: String, idCol: String,
      cents: Array[(Long, Array[Double], Double)], threshold: Double,
      nprobe: Int = 2, maxCell: Long = 100000L): DataFrame = {
    val t = graft.operators.Materialized(
      EmbeddingOps.prepared(train, vecCol, idCol)
        .withColumn("cluster", EmbeddingOps.ivfAssignment(col("v"), cents)))
    val keep = t.groupBy("cluster").agg(count(lit(1)).as("cell_n"))
      .where(col("cell_n") <= maxCell)
      .select("cluster")
    val b = EmbeddingOps.probes(EmbeddingOps.prepared(bench, vecCol, idCol),
      cents, nprobe)
    t.join(keep, "cluster")
      .join(b, Seq("cluster"))
      .select(col("cluster"), col("vec_id"), col("query_id").as("bench_id"),
        EmbeddingOps.roundedCosine(col("v"), col("nrm"), col("qv"), col("qn"))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** The semantically decontaminated corpus: `train` minus every
    * vector flagged by [[semanticContaminationPairs]] (left-anti on
    * the distinct contaminated ids — the same plan shape as
    * `TextDedup.decontaminate`). */
  def decontaminateSemantic(train: DataFrame, bench: DataFrame,
      vecCol: String, idCol: String,
      cents: Array[(Long, Array[Double], Double)], threshold: Double,
      nprobe: Int = 2, maxCell: Long = 100000L): DataFrame = {
    val bad = semanticContaminationPairs(train, bench, vecCol, idCol,
      cents, threshold, nprobe, maxCell)
      .select(col("vec_id").as(idCol)).distinct()
    train.join(bad, Seq(idCol), "left_anti")
  }

  /** Per-benchmark-item semantic leak report: how many training
    * vectors sit above the threshold for each eval item, how close the
    * closest is, and the first (smallest-id) offender — the review
    * surface for an eval-integrity audit, mirroring the shingle path's
    * `decontaminate_report`. Bench-suite-sized output. */
  def semanticContaminationReport(train: DataFrame, bench: DataFrame,
      vecCol: String, idCol: String,
      cents: Array[(Long, Array[Double], Double)], threshold: Double,
      nprobe: Int = 2, maxCell: Long = 100000L): DataFrame =
    semanticContaminationPairs(train, bench, vecCol, idCol, cents,
      threshold, nprobe, maxCell)
      .groupBy("bench_id")
      .agg(count(lit(1)).as("n_contaminated"),
        max(col("cosine")).as("max_cosine"),
        min(col("vec_id")).as("first_vec"))

  /** Compressed corpus-index rows for incremental/streaming SemDeDup:
    * (cluster, vec_id, scale, q) — the SAME layout
    * [[Quantization.writeIvfSq8Index]] persists (int8 codes, never the
    * float vectors), so the growing dedup index costs ~¼ of the corpus
    * embeddings and batch probes score against codes. */
  def corpusIndex(df: DataFrame, vecCol: String, idCol: String,
      cents: Array[(Long, Array[Double], Double)]): DataFrame =
    Quantization.indexRows(df, vecCol, idCol, cents)

  /**
   * Batch-vs-index semantic dedup: drop every batch vector that has a
   * same-cluster neighbour in `index` (rows of [[corpusIndex]]) at ADC
   * cosine ≥ threshold (float batch vector against the index's int8
   * codes — cosine is scale-free, so the stored scale is not read).
   * Linear in the batch; the index side touches only the batch's
   * clusters. Batch-INTERNAL dups are the caller's business
   * ([[keepers]]), mirroring how
   * `TextDedup.dedupAgainstIndex` leaves in-batch near-dups alone.
   */
  def semdedupAgainstIndex(batch: DataFrame, index: DataFrame,
      vecCol: String, idCol: String,
      cents: Array[(Long, Array[Double], Double)],
      threshold: Double): DataFrame = {
    val b = EmbeddingOps.prepared(batch, vecCol, idCol)
      .withColumn("cluster", EmbeddingOps.ivfAssignment(col("v"), cents))
    val dupIds = b.join(Quantization.codeCandidates(index), Seq("cluster"))
      .filter(EmbeddingOps.roundedCosine(col("v"), col("nrm"), col("cv"),
        col("cn")) >= threshold)
      .select(col("vec_id").as(idCol))
      .distinct()
    batch.join(dupIds, Seq(idCol), "left_anti")
  }
}
