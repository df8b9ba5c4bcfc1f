package graft.embeddings

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Similarity search over embedding columns (`array<float>`) — the
 * training-data-pipeline extension: near-duplicate detection by cosine,
 * brute-force exact top-k, and a hyperplane-LSH bucketed variant for the
 * scale path.
 *
 * All math is double-precision with left-to-right folds (deterministic,
 * engine-portable). Scores are rounded to 4 decimals at the output
 * boundary so results are reproducible across engines.
 *
 * Scale design: brute-force pairs are O(n²) and exist as the correctness
 * baseline; at corpus scale use [[lshBuckets]]-based candidates (linear
 * signatures + bucket-local joins, the SRP-LSH construction) or an IVF
 * layout (partition by coarse centroid) — both keep the pairwise work
 * bucket-local. The per-vector signature/norm relation is persisted, one
 * row per vector.
 */
object EmbeddingOps {

  /** Number of query vectors used by the demo ANN query (vec_id < this). */
  val DemoQueryCount = 20

  /** Element-wise left-to-right dot product of two double-array columns.
    * Codegen'd JVM loop (VectorAdapters.dot) — IEEE-identical to the
    * `aggregate(zip_with(...))` fold it replaces, ~10× faster on the
    * pairwise hot path. */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dot_product(a, b)

  /** L2 norm (codegen'd, left-to-right sum of squares). */
  def norm(a: Column): Column =
    graft.functions.GraftFunctions.l2_norm(a)

  /** Cosine similarity of two double-array columns. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Vectors with id, double-cast embedding, any `carry` columns and
    * the precomputed norm — (vec_id, v, carry…, nrm) — materialized once
    * for the multiple plan consumers (the norm fold feeds every scoring
    * join). Materialized, not persisted — the operators return lazy
    * frames with no unpersist point, see [[graft.operators.Materialized]]. */
  private[embeddings] def prepared(df: DataFrame, vecCol: String, idCol: String,
      carry: Column*): DataFrame =
    graft.operators.Materialized(
      df.select(Seq(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v")) ++
          carry: _*)
        .withColumn("nrm", norm(col("v"))))

  /** The candidate score of every search in this package: the cosine of
    * two double-array columns from their precomputed norms, rounded to 4
    * dp at the output boundary. Each payload brings its own norm (float
    * `nrm`, the SQ8 code norm, the guarded PQ reconstruction norm). */
  private[embeddings] def roundedCosine(a: Column, an: Column, b: Column,
      bn: Column): Column =
    round(dot(a, b) / (an * bn), 4)

  /** A [[prepared]] frame as the query side of a top-k:
    * (query_id, qv, carry…, qn). */
  private[embeddings] def querySide(p: DataFrame): DataFrame =
    p.withColumnsRenamed(Map("vec_id" -> "query_id", "v" -> "qv", "nrm" -> "qn"))

  /** A [[prepared]] frame as the candidate side of a top-k:
    * (neighbor_id, cv, carry…, cn). */
  private[embeddings] def candidateSide(p: DataFrame): DataFrame =
    p.withColumnsRenamed(Map("vec_id" -> "neighbor_id", "v" -> "cv", "nrm" -> "cn"))

  /** The query probe projection of every IVF search: one
    * (query_id, qv, carry…, qn, cluster) row per probed cell — each
    * query's `nprobe` nearest centroids. */
  private[embeddings] def probes(p: DataFrame,
      cents: Array[(Long, Array[Double], Double)], nprobe: Int): DataFrame =
    querySide(p).withColumn("cluster",
      explode(ivfProbes(col("qv"), cents, nprobe)))

  /** The rank of every top-k in this package: drop self pairs, score
    * (qv, qn) against (cv, cn) by [[roundedCosine]] into `score`, and keep
    * each query's top k by (score desc, neighbor_id asc), numbered in
    * `rank`. Output: the `keep` columns, `score`, `rank`. */
  private[embeddings] def topK(pairs: DataFrame, score: String, k: Int,
      keep: Seq[String] = Seq("query_id", "neighbor_id")): DataFrame =
    graft.operators.Relational.topKPerGroup(
      pairs.filter(col("query_id") =!= col("neighbor_id"))
        .select(keep.map(col) :+ roundedCosine(col("qv"), col("qn"),
          col("cv"), col("cn")).as(score): _*),
      Seq("query_id"), Seq(desc(score), asc("neighbor_id")), k)

  /** IVF top-k over a candidate payload of index rows
    * (cluster, neighbor_id, cv, cn) — the one step that differs between
    * the float, SQ8 and PQ indexes: queries probe their `nprobe` cells
    * and only candidates inside probed cells are scored. An in-memory
    * top-k passes rows built from the corpus, a from-index top-k rows
    * read back from parquet (the probe join then prunes the scan to the
    * probed cluster directories). */
  private[embeddings] def serveCells(queries: DataFrame, payload: DataFrame,
      vecCol: String, idCol: String,
      cents: Array[(Long, Array[Double], Double)], nprobe: Int,
      score: String, k: Int): DataFrame =
    topK(probes(prepared(queries, vecCol, idCol), cents, nprobe)
      .join(payload, "cluster"), score, k)

  /** Recall@k of each named approximate top-k against the exact float
    * top-k ([[bruteForceTopK]]): ONE row (k, n_queries, name…). Integer
    * hit counts and ONE double division at the end — a running double
    * avg would be partition-order-dependent (same discipline as the
    * decimal-summed TF-IDF/BM25 scores). */
  private[embeddings] def recallVsExact(queries: DataFrame, corpus: DataFrame,
      vecCol: String, idCol: String, k: Int,
      approx: (String, DataFrame)*): DataFrame = {
    val exact = bruteForceTopK(queries, corpus, vecCol, idCol, k)
      .select("query_id", "neighbor_id")
    val hits = approx.map { case (name, a) =>
      exact.join(a.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id")).agg(count(lit(1)).as(s"hits_$name"))
    }
    hits.foldLeft(exact.agg(countDistinct(col("query_id")).as("n_queries")))(
        _ crossJoin _)
      .select(lit(k).as("k") +: col("n_queries") +: approx.map { case (name, _) =>
        round(col(s"hits_$name").cast("double") / (col("n_queries") * k), 4)
          .as(name)
      }: _*)
  }

  /**
   * All vector pairs with cosine ≥ threshold (embedding near-duplicate
   * detection). Exact O(n²) — the correctness baseline for
   * [[lshCosinePairs]], DELIBERATELY small-N-only: `maxVectors` fails
   * the run fast instead of launching an n² self-join that at corpus
   * scale would score trillions of pairs. Thresholding on the rounded
   * score keeps the result engine-portable.
   */
  def cosinePairs(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, maxVectors: Long = 20000L): DataFrame = {
    val p = prepared(df, vecCol, idCol)
    val n = p.count() // also materializes the persist before the self-join
    require(n <= maxVectors,
      s"cosinePairs is the exact O(n²) baseline: $n vectors > " +
        s"maxVectors=$maxVectors (~${n * n / 2} pairs). Use " +
        "lshCosinePairs (bucketed) or ivfTopK for corpus-scale inputs, " +
        "or raise maxVectors deliberately.")
    val a = p.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = p.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine",
        roundedCosine(col("va"), col("na"), col("vb"), col("nb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /**
   * Exact top-k nearest neighbours (by cosine) of each query vector
   * against the corpus. Brute force: |Q|×|C| scored pairs, per-query
   * window for the top k. Use a small query set against a large corpus;
   * for corpus×corpus at scale, go through LSH/IVF candidates instead.
   */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      vecCol: String, idCol: String, k: Int): DataFrame =
    topK(querySide(prepared(queries, vecCol, idCol))
      .crossJoin(candidateSide(prepared(corpus, vecCol, idCol))), "cosine", k)

  /**
   * Deterministic random-hyperplane matrix for one hash table:
   * numPlanes × dim components in [-1, 1), derived from md5 of "t:p:d" —
   * reproducible everywhere.
   */
  def hyperplanes(table: Int, numPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes, dim) { (p, d) =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$table:$p:$d".getBytes("UTF-8")).map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex.take(15), 16) % 2000L - 1000L) / 1000.0
    }

  /**
   * Random-projection dimensionality reduction (Johnson–Lindenstrauss):
   * project each embedding onto `outDim` deterministic md5-derived
   * hyperplanes, scaled by √(3/outDim) so pairwise distances are
   * preserved in expectation (plane entries are uniform[-1,1) with
   * variance 1/3 — the Achlioptas-style scaling, not the Gaussian
   * 1/√outDim). Map-side only — the projection matrix rides the plan
   * as literals (outDim × dim doubles, a few KB), no shuffle, no fit
   * step, bit-reproducible everywhere. The cheap first stage before
   * clustering/visualization at corpus scale; components rounded to 6 dp
   * for cross-engine comparison.
   */
  def randomProjection(df: DataFrame, vecCol: String, idCol: String,
      outDim: Int, table: Int = 0): DataFrame = {
    val planes = hyperplanes(table, outDim, dims(df, vecCol))
    val v = asDouble(col(vecCol))
    val scale = math.sqrt(3.0 / outDim)
    df.select(col(idCol).as("vec_id"),
      array(planes.zipWithIndex.map { case (plane, _) =>
        round(dot(v, typedlit(plane.toSeq)) * scale, 6)
      }: _*).as("projection"))
  }

  /** Embedding width. ArrayType declares no length, so the schema alone
    * cannot carry it — callers may declare it as `dim` column metadata
    * (checked first, no job); otherwise one row is inspected, with a
    * clear error on empty input rather than a NoSuchElementException. */
  private def dims(df: DataFrame, vecCol: String): Int = {
    val md = df.schema(vecCol).metadata
    if (md.contains("dim")) md.getLong("dim").toInt
    else df.select(size(col(vecCol))).limit(1).collect() match {
      case Array(r) => r.getInt(0)
      case _ => throw new IllegalArgumentException(
        s"cannot infer embedding width of '$vecCol': input is empty " +
          "and no 'dim' column metadata is declared")
    }
  }

  /** SRP-LSH bucket id of one hash table: one sign bit per hyperplane. */
  def lshBucket(v: Column, table: Int, numPlanes: Int, dim: Int): Column = {
    val planes = hyperplanes(table, numPlanes, dim)
    (0 until numPlanes).map { p =>
      val plane = typedlit(planes(p).toSeq)
      when(dot(v, plane) >= 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** (vec_id, table, bucket) assignments across numTables hash tables —
    * OR-amplified SRP-LSH (a pair collides if it shares a bucket in ANY
    * table; more tables → higher recall, linearly more candidates).
    * All tables are signed in ONE kernel call over a flat plane-matrix
    * literal (numTables×numPlanes×dim doubles): the per-plane
    * expression form unrolled to numTables×numPlanes literal dots,
    * which at scaled plane counts risks the same 64 KB codegen
    * fallback the centroid scoring hit in the 100× soak. Bit-identical
    * buckets ([[lshBucket]] kept for the single-table form + specs). */
  def lshBuckets(df: DataFrame, vecCol: String, idCol: String,
      numPlanes: Int, numTables: Int, dim: Int): DataFrame = {
    val flat = (0 until numTables)
      .flatMap(t => hyperplanes(t, numPlanes, dim).flatten.toSeq)
    df.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"),
        posexplode(graft.functions.GraftFunctions.srp_buckets(
          asDouble(col(vecCol)), typedlit(flat), numPlanes, dim))
          .as(Seq("table", "bucket")))
  }

  /**
   * Approximate near-neighbour pairs: vectors sharing any (table, bucket)
   * cell, verified by exact cosine ≥ threshold. Bucket-local joins only —
   * the scale path for corpus×corpus similarity. Defaults (8 planes × 12
   * tables) give ~50% per-table-miss amplified to high recall for
   * cosine ≳ 0.7 pairs and usable recall in the 0.45 band.
   */
  // ───────────────────────────── IVF ─────────────────────────────

  /** Coarse centroids for IVF: the vectors with id < nlist, collected to
    * the driver (nlist × dim doubles — a few KB; broadcast as literals).
    * Deterministic stand-in kept as the demo/oracle default (expressible
    * in SQL); [[kmeansCentroids]] is the trained alternative — pass its
    * result via the `centroids` parameter of ivfTopK/writeIvfIndex. */
  def ivfCentroids(corpus: DataFrame, vecCol: String, idCol: String,
      nlist: Int): Array[(Long, Array[Double], Double)] =
    corpus.filter(col(idCol) < nlist)
      .select(col(idCol).cast("long"), asDouble(col(vecCol)))
      .collect()
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        (r.getLong(0), v, math.sqrt(v.map(x => x * x).sum))
      }
      .sortBy(_._1)

  /**
   * Trained coarse centroids for IVF: deterministic sample-based
   * spherical k-means (the standard way IVF indexes are trained — e.g.
   * faiss trains on a bounded sample, not the full corpus). The sample is
   * the first `sampleSize` vectors in md5(id) order — stable across
   * partitionings and engines — and Lloyd iterations run sequentially on
   * the driver over that sample (≤ sampleSize·dim doubles), so the
   * result is bit-deterministic: no RNG, no parallel-reduction float
   * reordering. Assignment is by cosine with ties to the smallest
   * centroid id (same rule as [[ivfAssignment]]); empty clusters keep
   * their previous centroid. Output shape matches [[ivfCentroids]], so it
   * drops into ivfTopK / writeIvfIndex unchanged.
   */
  def kmeansCentroids(corpus: DataFrame, vecCol: String, idCol: String,
      nlist: Int, iters: Int = 10,
      sampleSize: Int = 4096): Array[(Long, Array[Double], Double)] = {
    val sample = corpus
      .select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("hk", md5(col("id").cast("string")))
      .orderBy("hk", "id")
      .limit(sampleSize)
      .select("v")
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.length >= nlist, s"need ≥ $nlist sample vectors")
    val dim = sample.head.length
    def dotv(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { s += a(i) * b(i); i += 1 }
      s
    }
    def nrm(a: Array[Double]): Double = math.max(math.sqrt(dotv(a, a)), 1e-12)
    // Greedy farthest-point init (deterministic k-means++ analogue):
    // start from the first hash-ordered vector, then repeatedly seed the
    // sample vector with the lowest maximum cosine to the seeds so far —
    // spread seeds cover the direction space instead of collapsing into
    // whatever the first nlist hash-ordered vectors happened to be.
    val sn = sample.map(nrm)
    val seeds = new Array[Int](nlist)
    seeds(0) = 0
    val maxCos = Array.tabulate(sample.length) { j =>
      dotv(sample(j), sample(0)) / (sn(j) * sn(0))
    }
    var s = 1
    while (s < nlist) {
      var far = 0; var farScore = Double.PositiveInfinity
      var j = 0
      while (j < sample.length) {
        if (maxCos(j) < farScore) { farScore = maxCos(j); far = j }
        j += 1
      }
      seeds(s) = far
      j = 0
      while (j < sample.length) {
        val c = dotv(sample(j), sample(far)) / (sn(j) * sn(far))
        if (c > maxCos(j)) maxCos(j) = c
        j += 1
      }
      s += 1
    }
    var cents = seeds.map(sample(_).clone())
    var it = 0
    while (it < iters) {
      val cn = cents.map(nrm)
      val sums = Array.fill(nlist)(new Array[Double](dim))
      val cnt = new Array[Long](nlist)
      sample.foreach { v =>
        var best = 0; var bestScore = Double.NegativeInfinity
        var c = 0
        while (c < nlist) {
          val s = dotv(v, cents(c)) / cn(c)
          if (s > bestScore) { bestScore = s; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        cnt(best) += 1
      }
      cents = Array.tabulate(nlist) { c =>
        if (cnt(c) > 0) sums(c).map(_ / cnt(c)) else cents(c)
      }
      it += 1
    }
    cents.zipWithIndex.map { case (v, i) => (i.toLong, v, nrm(v)) }
  }

  /** Centroid matrix/norms/ids as three FLAT literals (row-major
    * nlist×dim, per-centroid L2 norm, per-centroid id). Earlier form
    * inlined one `dot(v, literal)` expression PER centroid; at
    * nlist×dim scale the unrolled codegen blew the JVM's 64 KB method
    * limit and Spark silently fell back to interpreted evaluation for
    * the whole scoring stage (seen in the round-6 100× soak logs). The
    * kernel keeps the map-side no-join/no-shuffle shape with ONE call
    * per row and bit-identical arithmetic/tie rules. Centroid builders
    * emit ascending-id order — required for the first-wins tie rule to
    * equal the old (cos, −cid) struct-max. */
  private def centLits(cents: Array[(Long, Array[Double], Double)])
      : (Column, Column, Column) = (
    typedlit(cents.flatMap(_._2).toSeq),
    typedlit(cents.map(_._3).toSeq),
    typedlit(cents.map(_._1).toSeq))

  /** Nearest-centroid id (ties → smallest centroid id). */
  def ivfAssignment(v: Column,
      cents: Array[(Long, Array[Double], Double)]): Column = {
    val (m, n, ids) = centLits(cents)
    graft.functions.GraftFunctions.nearest_centroid(v, m, n, ids)
  }

  /** The nprobe nearest centroid ids for a query vector. */
  def ivfProbes(v: Column, cents: Array[(Long, Array[Double], Double)],
      nprobe: Int): Column = {
    val (m, n, ids) = centLits(cents)
    graft.functions.GraftFunctions.top_centroids(v, m, n, ids, nprobe)
  }

  /**
   * IVF approximate top-k: corpus partitioned by nearest centroid
   * (map-side assignment), queries probe their nprobe nearest cells, and
   * exact cosine runs only inside probed cells. The shuffle is on
   * cluster id — at 100 TB the corpus-side assignment can be written
   * bucketed-by-cluster once and reused across query batches.
   */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, vecCol: String,
      idCol: String, k: Int, nlist: Int, nprobe: Int,
      centroids: Option[Array[(Long, Array[Double], Double)]] = None): DataFrame = {
    val cents = centroids.getOrElse(ivfCentroids(corpus, vecCol, idCol, nlist))
    serveIvf(queries, ivfRows(corpus, vecCol, cents), vecCol, idCol, k,
      nprobe, cents)
  }

  /**
   * Contrastive HARD-NEGATIVE MINING (the ANCE/SimCSE curation step):
   * for each anchor, the k most-similar corpus vectors with a DIFFERENT
   * label — the near-miss negatives that make embedding training
   * converge, mined through the same IVF probe path as [[ivfTopK]] so
   * the cost is probe-bounded, not corpus². The label-mismatch filter
   * runs BEFORE the per-anchor top-k window, so candidates shrink at the
   * scoring join, and same-label (and self) pairs never rank.
   * Output: query_id, anchor_label, neighbor_id, neighbor_label,
   * cosine, rank.
   */
  def ivfHardNegatives(queries: DataFrame, corpus: DataFrame,
      vecCol: String, idCol: String, labelCol: String, k: Int,
      nlist: Int, nprobe: Int,
      centroids: Option[Array[(Long, Array[Double], Double)]] = None): DataFrame = {
    val cents = centroids.getOrElse(ivfCentroids(corpus, vecCol, idCol, nlist))
    val probing = probes(prepared(queries, vecCol, idCol,
      col(labelCol).as("anchor_label")), cents, nprobe)
    val assigned = candidateSide(prepared(corpus, vecCol, idCol,
        col(labelCol).as("neighbor_label")))
      .withColumn("cluster", ivfAssignment(col("cv"), cents))
    topK(probing.join(assigned, "cluster")
        .filter(col("anchor_label") =!= col("neighbor_label")),
      "cosine", k,
      Seq("query_id", "anchor_label", "neighbor_id", "neighbor_label"))
  }

  /**
   * Persist the corpus as an IVF index: one parquet directory per coarse
   * cluster (nearest centroid). At 100 TB this is the layout that makes
   * ANN serving cheap — each query batch touches only its nprobe cluster
   * directories, and the probe join triggers dynamic partition pruning
   * (the scan reads just the probed directories, asserted in
   * EmbeddingIndexSpec).
   */
  def writeIvfIndex(corpus: DataFrame, vecCol: String, idCol: String,
      nlist: Int, path: String,
      centroids: Option[Array[(Long, Array[Double], Double)]] = None): Unit = {
    val cents = centroids.getOrElse(ivfCentroids(corpus, vecCol, idCol, nlist))
    graft.io.ParquetSink.writePartitioned(ivfRows(corpus, vecCol, cents),
      path, Seq("cluster"))
  }

  /** The float IVF index row: the corpus row plus its nearest-centroid
    * `cluster` — what [[writeIvfIndex]] persists and [[ivfTopK]] serves
    * in memory. */
  private def ivfRows(corpus: DataFrame, vecCol: String,
      cents: Array[(Long, Array[Double], Double)]): DataFrame =
    corpus.withColumn("cluster", ivfAssignment(asDouble(col(vecCol)), cents))

  /** Float IVF top-k over a frame of [[ivfRows]]: exact cosine against
    * the stored float vectors inside the probed cells. */
  private def serveIvf(queries: DataFrame, rows: DataFrame, vecCol: String,
      idCol: String, k: Int, nprobe: Int,
      cents: Array[(Long, Array[Double], Double)]): DataFrame =
    serveCells(queries,
      rows.select(col("cluster"), col(idCol).as("neighbor_id"),
          asDouble(col(vecCol)).as("cv"))
        .withColumn("cn", norm(col("cv"))),
      vecCol, idCol, cents, nprobe, "cosine", k)

  /** Serve top-k from a persisted IVF index: re-derive the probe cells
    * for each query from the same deterministic centroids, join on the
    * partition column (cluster), score inside probed cells only. */
  def ivfTopKFromIndex(queries: DataFrame, indexPath: String,
      corpusForCentroids: DataFrame, vecCol: String, idCol: String,
      k: Int, nlist: Int, nprobe: Int,
      centroids: Option[Array[(Long, Array[Double], Double)]] = None): DataFrame = {
    val cents = centroids.getOrElse(
      ivfCentroids(corpusForCentroids, vecCol, idCol, nlist))
    serveIvf(queries, queries.sparkSession.read.parquet(indexPath), vecCol,
      idCol, k, nprobe, cents)
  }

  /** Corpus-size-derived SRP plane count: P = ⌈log₂ n⌉ − 1, i.e. ~n/2
    * buckets per table (mean occupancy ~2). Fixed plane counts go
    * superlinear as the corpus grows — bucket population rises with n,
    * and the bucket self-join is quadratic per bucket; the 10× soak
    * measured fixed-8-planes at 13.7× vs 2.2× once P followed log₂ n
    * (SOAK_r05.md finding 3). Gives 8 at the 500-vector demo corpus and
    * 12 at its 10× replica — exactly the empirically-right values.
    * Clamped to [4, 20]: below 4 every table degenerates to a handful of
    * mega-buckets; above 20 (n > ~2M per partition of the LSH problem)
    * recall decay says add tables, not planes. */
  def planesForCount(n: Long): Int =
    math.max(4, math.min(20,
      math.ceil(math.log(math.max(2L, n).toDouble) / math.log(2.0)).toInt - 1))

  /** `numPlanes <= 0` (the default) derives the plane count from the
    * corpus size via [[planesForCount]] — one count() over the input
    * (parquet counts are metadata-cheap) so the bucket space tracks the
    * corpus instead of silently densifying as data grows. Pass an
    * explicit positive `numPlanes` to pin the table layout (e.g. when an
    * oracle or a persisted index must stay byte-stable across runs). */
  def lshCosinePairs(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, numPlanes: Int = 0, numTables: Int = 12,
      dim: Int = 64, maxBucket: Long = 10000L): DataFrame = {
    val planes = if (numPlanes > 0) numPlanes else planesForCount(df.count())
    // Candidates first, score once: the bucket self-join carries only
    // (table, bucket, id) rows, duplicate collisions (a pair can share a
    // bucket in up to numTables tables) are dropped on the 2-long id pair
    // BEFORE the vectors are fetched, and the 64-dim dot runs exactly
    // once per distinct candidate. The earlier formulation dragged both
    // vectors through the join and scored every collision (~numTables×
    // redundant dots, and a distinct over float payloads).
    // materialized: three longs per (vector, table) row, and the
    // signature computation (numPlanes × numTables hyperplane dots per
    // vector) feeds both sides of the self-join
    val b = graft.operators.Materialized(
      lshBuckets(df, vecCol, idCol, planes, numTables, dim)
        .select("vec_id", "table", "bucket"))
    // Bucket-size cap: a degenerate cell (zero-vector pileups, all-ones
    // sign patterns) reintroduces quadratic pairs through the self-join —
    // standard LSH practice skips cells over a population bound. A pair
    // losing one hot cell still collides in any of the other
    // numTables−1 tables, so recall degrades gracefully.
    val keep = b.groupBy("table", "bucket")
      .agg(count(lit(1)).as("cell_n"))
      .where(col("cell_n") <= maxBucket)
      .select("table", "bucket")
    val bc = b.join(keep, Seq("table", "bucket"))
    val cand = bc.select(col("table"), col("bucket"), col("vec_id").as("id_a"))
      .join(bc.select(col("table"), col("bucket"), col("vec_id").as("id_b")),
        Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val p = prepared(df, vecCol, idCol)
    cand
      .join(p.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("nrm").as("na")), "id_a")
      .join(p.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        roundedCosine(col("va"), col("na"), col("vb"), col("nb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
