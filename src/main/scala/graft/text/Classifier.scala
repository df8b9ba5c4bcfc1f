package graft.text

import graft.embeddings.EmbeddingOps
import graft.operators.Sampling
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Corpus-trained classifiers — the fastText-niche model family of a
 * training-data pipeline (language ID, domain tagging, quality routing),
 * trained IN the engine by counting/averaging: no gradient loop, no
 * driver-side state, every stage a hash aggregation or broadcast join,
 * and therefore fully oracle-replayable.
 *
 * Two models, covering both modalities the pipeline filters on:
 *  - [[nbPredict]]: multinomial Naive Bayes over whitespace tokens
 *    (text route). Training is two hash aggregations over exploded
 *    tokens; the model is the non-zero (class, term) count table plus
 *    one row per class.
 *  - [[centroidPredict]]: nearest-centroid (Rocchio) over an embedding
 *    column (semantic route). Training is one posexplode + exact
 *    integer-sum aggregation; the model is |classes| centroid arrays.
 *
 * Scale design: both models are broadcastable by construction (NB:
 * observed vocab × classes non-zero cells; Rocchio: |classes| rows), so
 * scoring a 100 TB corpus is a map-side broadcast join + one partial
 * aggregation per document — no shuffle proportional to the corpus
 * beyond the per-doc combine. The train/test split is the engine's
 * deterministic md5 bucket ([[Sampling.bucket]]), a pure function of
 * the key: membership survives re-partitioning, re-runs and engines.
 *
 * Engine-exactness: every transcendental (ln) is rounded to 6 dp and
 * scaled by exact integer counts into DECIMAL sums (the
 * [[Relevance]] convention — decimal addition is exact and commutative,
 * so scores are independent of partitioning); centroid components are
 * micro-unit-quantized integer sums divided once. The argmax is then a
 * deterministic comparison with ties broken by label ascending.
 */
object Classifier {

  private val Dec = "decimal(18,6)"

  /**
   * Multinomial Naive Bayes with Laplace smoothing, trained on the
   * `bucket(id) < trainBuckets` hash slice and scored on the rest.
   *
   * With smoothing, log P(t|c) = ln(cnt(t,c)+1) − ln(tokens_c+V); a
   * zero-count cell contributes ln(0+1) = 0, so only the NON-ZERO count
   * table is ever materialized and the denominator folds into one
   * per-class linear term:
   *
   *   score(d,c) = ln P(c) − len_v(d)·ln(tokens_c+V)
   *                + Σ_t n_t(d)·ln(cnt(t,c)+1)
   *
   * where len_v(d) counts d's in-vocab token instances. Out-of-vocab
   * tokens are ignored (standard vocab-bounded NB). Only labels seen in
   * the train slice WITH at least one token are ever predicted (a class
   * whose training documents are all empty contributes no counts and
   * drops from the model). Output: one row per test document —
   * (doc_id, label_true, label_pred, score) with score the winning
   * class's log-posterior numerator rounded to 4 dp.
   */
  def nbPredict(docs: DataFrame, textCol: String, idCol: String,
      labelCol: String, trainBuckets: Long = 8000): DataFrame = {
    val base = split(docs, textCol, idCol, labelCol)
    val (classes, terms) = nbTrain(base.filter(col("_bk") < trainBuckets))
    scoreNb(base.filter(col("_bk") >= trainBuckets), classes, terms)
  }

  private def split(docs: DataFrame, textCol: String, idCol: String,
      labelCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      col(labelCol).as("label_true"), col(textCol).as("text"),
      Sampling.bucket(col(idCol)).as("_bk"))

  /** The trained model as two frames — the persistable layout:
    * `classes(label, log_prior, log_denom)` (one row per class) and
    * `terms(label, term, lw)` (the NON-zero cells only, lw =
    * round(ln(cnt+1), 6) as DECIMAL — exactly the value scoring sums, so
    * a persisted model reproduces in-memory scores bit-for-bit). */
  private def nbTrain(trainDocs: DataFrame): (DataFrame, DataFrame) = {
    val trainToks = trainDocs.select(col("label_true").as("label"),
      explode(TextAnalysis.tokens(col("text"))).as("term"))
    // model-sized (non-zero cells only) and feeds THREE consumers
    // (class totals, vocab size, term weights): materialized so the
    // corpus-sized token explode runs once, not once per consumer
    val termCnt = graft.operators.Materialized(
      trainToks.groupBy("label", "term").agg(count(lit(1)).as("cnt")))
    val classTok = termCnt.groupBy("label").agg(sum(col("cnt")).as("tokens_c"))
    val vocabSize = termCnt.select("term").distinct().agg(count(lit(1)).as("v"))
    val nTrain = trainDocs.agg(count(lit(1)).as("n_train"))
    val classes = trainDocs.groupBy(col("label_true").as("label"))
      .agg(count(lit(1)).as("n_docs_c"))
      .join(classTok, "label")
      .crossJoin(vocabSize).crossJoin(nTrain)
      .select(col("label"),
        (round(log(col("n_docs_c").cast("double")), 6).cast(Dec) -
          round(log(col("n_train").cast("double")), 6).cast(Dec))
          .as("log_prior"),
        round(log((col("tokens_c") + col("v")).cast("double")), 6).cast(Dec)
          .as("log_denom"))
    val terms = termCnt.select(col("label"), col("term"),
      round(log((col("cnt") + 1).cast("double")), 6).cast(Dec).as("lw"))
    (classes, terms)
  }

  private def scoreNb(testDocs: DataFrame, classes: DataFrame,
      terms: DataFrame): DataFrame = {
    // test tokens keep multiplicity: the model join below multiplies
    // n_t(d) in by emitting one row per token INSTANCE
    val testToks = testDocs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("term"))
    // the model pivoted per TERM (≤ |labels| cells each) so scoring
    // joins the corpus-sized token stream ONCE — s_match and len_v both
    // fall out of the same explode: the p == 0 row marks each token
    // instance exactly once (whichever label lands first — the per-doc
    // TOTAL is order-independent), so in-vocab instance counts need no
    // second vocab join over the corpus
    val termCells = terms.groupBy("term")
      .agg(collect_list(struct(col("label"), col("lw"))).as("cells"))
    val exploded = testToks.join(termCells, "term")
      .select(col("doc_id"), posexplode(col("cells")).as(Seq("p", "cell")))
    // partials are test-docs × labels — model-scale, cheap to
    // materialize; consumers read only order-independent aggregates
    val partials = graft.operators.Materialized(
      exploded.groupBy(col("doc_id"), col("cell.label").as("label"))
        .agg(sum(col("cell.lw")).as("s_match"),
          sum(when(col("p") === 0, 1L).otherwise(0L)).as("lv_part")))
    val matched = partials.select("doc_id", "label", "s_match")
    val lenV = partials.groupBy("doc_id").agg(sum(col("lv_part")).as("len_v"))

    val scored = testDocs.select("doc_id", "label_true")
      .crossJoin(broadcast(classes))
      .join(matched, Seq("doc_id", "label"), "left")
      .join(lenV, Seq("doc_id"), "left")
      .withColumn("score",
        col("log_prior") -
          coalesce(col("len_v"), lit(0L)) * col("log_denom") +
          coalesce(col("s_match"), lit(0).cast(Dec)))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("label").asc)
    scored.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("doc_id"), col("label_true"), col("label").as("label_pred"),
        round(col("score"), 4).cast("double").as("score"))
  }

  /** Row count of the hashed model's non-zero (label, cell) table — the
    * boundedness diagnostic the soak ladder reports: must stay ≤
    * `buckets` × |classes| at ANY corpus size (the exact-vocab model's
    * table grows with observed vocabulary instead). */
  def nbHashedModelRows(docs: DataFrame, textCol: String, idCol: String,
      labelCol: String, buckets: Int = 1024,
      trainBuckets: Long = 8000): Long =
    docs.select(col(labelCol).as("label"),
        Dsir.gramCells(col(textCol), buckets).as("cells"),
        Sampling.bucket(col(idCol)).as("_bk"))
      .filter(col("_bk") < trainBuckets)
      .select(col("label"), explode(col("cells")).as("cell"))
      .groupBy("label", "cell").count().count()

  /** Train on the `bucket(id) < trainBuckets` slice and persist the
    * model layout (`classes/`, `terms/` parquet under `path`) — train
    * once, serve many: the decimal log columns stored are exactly the
    * values scoring sums, so serving from the persisted model is
    * bit-identical to in-memory prediction. */
  /**
   * [[nbPredict]] over a FIXED hashed feature alphabet — the
   * scale-bounded variant. The exact-vocab model's non-zero (class,
   * term) table grows with OBSERVED vocabulary, which on a web-scale
   * corpus is unbounded (hundreds of millions of cells — past any
   * broadcast threshold); here features are the DSIR hashed
   * unigram+bigram cells ([[Dsir]]'s `gramCells` — the same codegen'd
   * `dsir_cells` kernel, and the same construction fastText uses:
   * word + word-bigram features in a fixed hash table), so the model is
   * ≤ `buckets` × |classes| rows at ANY corpus size.
   *
   * Two simplifications fall out of the fixed alphabet: every gram is
   * in-vocabulary, so the linear term multiplies the document's TOTAL
   * gram count (no vocab membership join); and Laplace smoothing uses
   * the constant alphabet size `buckets`:
   *
   *   score(d,c) = ln P(c) − n_grams(d)·ln(tokens_c+B)
   *                + Σ_g n_g(d)·ln(cnt(bucket(g),c)+1)
   *
   * Hash collisions merge features on BOTH the train and score side —
   * deterministic, oracle-replayable, and the standard hashing-trick
   * accuracy trade. The exact-vocab [[nbPredict]] stays registered as
   * the oracle anchor.
   */
  def nbPredictHashed(docs: DataFrame, textCol: String, idCol: String,
      labelCol: String, buckets: Int = 1024,
      trainBuckets: Long = 8000): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val base = docs.select(col(idCol).as("doc_id"),
      col(labelCol).as("label_true"),
      Dsir.gramCells(col(textCol), buckets).as("cells"),
      Sampling.bucket(col(idCol)).as("_bk"))
    val train = base.filter(col("_bk") < trainBuckets)
    val trainGrams = train.select(col("label_true").as("label"),
      explode(col("cells")).as("cell"))
    // the model: ≤ buckets × classes non-zero cells — materialized once
    // for its two consumers (class token totals, cell weights)
    val cellCnt = graft.operators.Materialized(
      trainGrams.groupBy("label", "cell").agg(count(lit(1)).as("cnt")))
    val classTok = cellCnt.groupBy("label").agg(sum(col("cnt")).as("tokens_c"))
    val nTrain = train.agg(count(lit(1)).as("n_train"))
    val classes = train.groupBy(col("label_true").as("label"))
      .agg(count(lit(1)).as("n_docs_c"))
      .join(classTok, "label")
      .crossJoin(nTrain)
      .select(col("label"),
        (round(log(col("n_docs_c").cast("double")), 6).cast(Dec) -
          round(log(col("n_train").cast("double")), 6).cast(Dec))
          .as("log_prior"),
        round(log((col("tokens_c") + buckets).cast("double")), 6).cast(Dec)
          .as("log_denom"))
    val lw = cellCnt.select(col("label"), col("cell"),
      round(log((col("cnt") + 1).cast("double")), 6).cast(Dec).as("lw"))

    val test = base.filter(col("_bk") >= trainBuckets)
    val testGrams = test.select(col("doc_id"), explode(col("cells")).as("cell"))
    // lw is bounded by construction → broadcast is safe at any scale
    val sMatch = testGrams.join(broadcast(lw), "cell")
      .groupBy("doc_id", "label").agg(sum(col("lw")).as("s_match"))
    val scored = test.select(col("doc_id"), col("label_true"),
        coalesce(size(col("cells")).cast("long"), lit(0L)).as("n_grams"))
      .crossJoin(broadcast(classes))
      .join(sMatch, Seq("doc_id", "label"), "left")
      .withColumn("score",
        col("log_prior") - col("n_grams") * col("log_denom") +
          coalesce(col("s_match"), lit(0).cast(Dec)))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("label").asc)
    scored.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("doc_id"), col("label_true"), col("label").as("label_pred"),
        round(col("score"), 4).cast("double").as("score"))
  }

  def writeNbModel(docs: DataFrame, textCol: String, idCol: String,
      labelCol: String, path: String, trainBuckets: Long = 8000): Unit = {
    val base = split(docs, textCol, idCol, labelCol)
    val (classes, terms) = nbTrain(base.filter(col("_bk") < trainBuckets))
    classes.write.mode("overwrite").parquet(s"$path/classes")
    terms.write.mode("overwrite").parquet(s"$path/terms")
  }

  /** Score the held-out slice of `docs` from a model persisted by
    * [[writeNbModel]]. Row-identical to [[nbPredict]] on the same corpus
    * and split. */
  def nbPredictFromModel(docs: DataFrame, textCol: String, idCol: String,
      labelCol: String, path: String,
      trainBuckets: Long = 8000): DataFrame = {
    val spark = docs.sparkSession
    val base = split(docs, textCol, idCol, labelCol)
    scoreNb(base.filter(col("_bk") >= trainBuckets),
      spark.read.parquet(s"$path/classes"),
      spark.read.parquet(s"$path/terms"))
  }

  /** Per-class quality report over [[nbPredict]]'s output — the number a
    * pipeline actually gates on before trusting a trained filter. */
  def accuracyReport(pred: DataFrame): DataFrame =
    pred.groupBy(col("label_true").as("label"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("label_pred") === col("label_true"), 1L).otherwise(0L))
          .as("n_correct"))
      // exact integer count ÷ exact count: one IEEE division, portable
      .withColumn("accuracy", col("n_correct").cast("double") / col("n_test"))

  /**
   * Nearest-centroid (Rocchio) classifier over an embedding column:
   * per-class mean vector on the train slice, cosine argmax on the test
   * slice. The semantic sibling of [[nbPredict]] — the shape used for
   * embedding-based domain/quality routing when a labeled seed set
   * exists.
   *
   * Determinism of the mean: each float component is quantized to exact
   * micro-units (floor(x·1e6 + 0.5) — one IEEE multiply-add + floor,
   * identical in any engine), summed as integers (exact, commutative —
   * a distributed double sum would be partition-order-dependent), and
   * divided back once. Cosine then uses the engine's standard
   * left-to-right fold ([[EmbeddingOps.dot]]). Output: (vec_id,
   * label_true, label_pred, cosine) per test vector, cosine to 6 dp.
   */
  def centroidPredict(vecs: DataFrame, vecCol: String, idCol: String,
      labelCol: String, trainBuckets: Long = 8000): DataFrame = {
    val base = vecSplit(vecs, vecCol, idCol, labelCol)
    scoreCentroids(base.filter(col("_bk") >= trainBuckets),
      trainCentroids(base.filter(col("_bk") < trainBuckets)))
  }

  private def vecSplit(vecs: DataFrame, vecCol: String, idCol: String,
      labelCol: String): DataFrame =
    vecs.select(col(idCol).as("vec_id"),
      col(labelCol).as("label_true"),
      transform(col(vecCol), x => x.cast("double")).as("v"),
      Sampling.bucket(col(idCol)).as("_bk"))

  /** The trained model: one (label, cv: array<double>) row per class —
    * micro-unit integer sums divided once, so the stored centroid is
    * exactly the vector scoring doted against (parquet round-trips
    * doubles bit-exactly; serving from disk is bit-identical). */
  private def trainCentroids(train: DataFrame): DataFrame = {
    val comps = train.select(col("label_true").as("label"),
      posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"),
        floor(col("x") * lit(1e6) + lit(0.5)).cast("long").as("micro"))
    val centroids = comps.groupBy("label", "dim")
      .agg(sum(col("micro")).as("s"), count(lit(1)).as("n"))
      .select(col("label"), col("dim"),
        (col("s").cast("double") / col("n") / lit(1e6)).as("c"))
      .groupBy("label")
      // collect_list order is nondeterministic; array_sort on the
      // (dim, c) struct restores dim order exactly (dims are distinct)
      .agg(array_sort(collect_list(struct(col("dim"), col("c"))))
        .as("dc"))
      .select(col("label"), transform(col("dc"), e => e("c")).as("cv"))
    centroids
  }

  private def scoreCentroids(test: DataFrame,
      centroids: DataFrame): DataFrame = {
    // zero-norm guard (all-zero vector or centroid): norm -> 1 makes the
    // cosine collapse to 0 instead of NaN — mirrors the int8 scale and
    // PQ reconstruction-norm guards elsewhere in the engine
    def safeNorm(c: Column): Column = {
      val n = EmbeddingOps.norm(c)
      when(n === 0.0, lit(1.0)).otherwise(n)
    }
    val scored = test.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("label_true"), col("label"),
        round(EmbeddingOps.dot(col("v"), col("cv")) /
          (safeNorm(col("v")) * safeNorm(col("cv"))), 6)
          .as("cosine"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cosine").desc, col("label").asc)
    scored.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select("vec_id", "label_true", "label", "cosine")
      .withColumnRenamed("label", "label_pred")
  }

  /** Persist the trained centroid model (one (label, cv) parquet row
    * per class) — train once, serve many; doubles round-trip parquet
    * bit-exactly, so serving from disk is bit-identical. */
  def writeCentroidModel(vecs: DataFrame, vecCol: String, idCol: String,
      labelCol: String, path: String, trainBuckets: Long = 8000): Unit = {
    val base = vecSplit(vecs, vecCol, idCol, labelCol)
    trainCentroids(base.filter(col("_bk") < trainBuckets))
      .write.mode("overwrite").parquet(path)
  }

  /** Score the held-out slice of `vecs` from a model persisted by
    * [[writeCentroidModel]]. Row-identical to [[centroidPredict]]. */
  def centroidPredictFromModel(vecs: DataFrame, vecCol: String,
      idCol: String, labelCol: String, path: String,
      trainBuckets: Long = 8000): DataFrame = {
    val base = vecSplit(vecs, vecCol, idCol, labelCol)
    scoreCentroids(base.filter(col("_bk") >= trainBuckets),
      vecs.sparkSession.read.parquet(path))
  }
}
