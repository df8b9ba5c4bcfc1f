package graft.text

import graft.operators.{Materialized, Sampling}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StringType,
  StructField, StructType}

import scala.jdk.CollectionConverters._

/**
 * Supervised quality classifier — binary logistic regression over
 * hashed unigram+bigram PRESENCE features, trained IN the engine by
 * fixed-iteration full-batch gradient descent. The discriminative
 * sibling of [[Classifier.nbPredictHashed]] and the missing member of
 * the model-based-curation family: the standard "quality classifier"
 * of large-scale corpus pipelines (the GPT-3/CCNet/FineWeb pattern) is
 * a fastText-style supervised linear model trained on weak labels
 * (seed-domain membership, rule-derived gates, LLM judgments), not a
 * generative counter.
 *
 * Model: p(y=1|d) = σ(b + Σ_{g ∈ cells(d)} w_g) over the DSIR hashed
 * gram alphabet ([[Dsir]]'s codegen'd `dsir_cells` kernel — fastText's
 * word + word-bigram hashing-trick construction), with each DISTINCT
 * cell contributing once (binary bag: presence, not counts — repeated
 * grams are one feature, which is also what makes the model robust to
 * the duplicated-evidence overconfidence NB exhibits; the spec proves
 * that calibration gap on a planted corpus).
 *
 * Training: `iters` full-batch GD steps, w ← w − η/n · Σ_d (p_d−y_d)·x.
 * Everything is engine-exact and therefore oracle-replayable step by
 * step (the descent unrolls into CTEs exactly as the Lloyd iterations
 * of `text/KmeansOracles.scala` do):
 *  - weights live as DECIMAL(18,6); with presence features z_d is a
 *    plain decimal SUM of present-cell weights — exact and commutative,
 *    so z is independent of partitioning (no per-term rounding at all);
 *  - the only transcendental, σ(z) = 1/(1+exp(−z)), is computed once
 *    per (doc, iteration) and rounded to 6 dp;
 *  - the error p−y and every gradient component are exact decimal sums
 *    of those 6-dp values;
 *  - the step η·g/n is one double expression rounded to 6 dp and
 *    SUBTRACTED in decimal (never re-rounding the accumulated weight).
 *
 * Scale shape: the feature relation is ONE doc-grain map-side
 * projection (doc_id, y, distinct-cell array), materialized once. The
 * model is bounded (≤ buckets·K + K weights) and stays on the driver
 * as dense micro-unit arrays for the whole descent. Each iteration is
 * ONE map-side pass over the features — the model rides IN the plan as
 * array literals, z/σ/err are computed in-row — and one
 * partial-aggregated hash aggregation over the exploded cells (a `-2`
 * sentinel cell carries the intercept gradient in the same pass), on
 * which Spark also rounds each 6-dp step. The driver collects the
 * ≤ buckets+1 step rows and subtracts them in exact micro-units: two
 * Spark jobs per iteration, one exchange of (cell, err) pairs, cost
 * linear in corpus grams, and a plan-literal-sized model at ANY corpus
 * size. The weight table is built once, after the last step.
 *
 * Micro-unit equivalence: a DECIMAL(18,6) weight is exactly k/10⁶ for
 * integer k, so in-row sums and the driver's update run on LONG
 * micro-units. Every boundary to double replays the decimal semantics
 * exactly: for a scale-6 decimal with |unscaled| < 2⁵², `Decimal.toDouble`
 * IS `(double)unscaled/1e6` (java.math.BigDecimal.doubleValue's fast
 * path), and both sides of the equivalence are correctly-rounded
 * conversions of the same rational — per-doc |z| is bounded by
 * buckets · iters · step ≈ 10¹⁰ micro-units, far under 2⁵² at any
 * corpus size. The train/test split is the deterministic md5 bucket
 * ([[Sampling.bucket]]); documents with zero grams are excluded (no
 * evidence, matching [[Dsir.importanceWeights]]). Training documents
 * must be id-unique (the library-wide doc grain); both trainers reject
 * a slice that is not. A weight table is validated when it is decoded
 * for scoring: a null, out-of-range or duplicate row is an error.
 */
object LogisticRegression {

  private val Dec = "decimal(18,6)"
  private val Dec28 = "decimal(28,6)"
  /** |w| · 10⁶ bound of a DECIMAL(18,6). */
  private val MaxMicro = 1000000000000000000L

  /** Doc-grain PRESENCE features: (doc_id, y, _bk, cells) with `cells`
    * the DISTINCT hashed gram cells (each ∈ [0, buckets)) — one row per
    * document, gram-bearing documents only. */
  private def featFrame(docs: DataFrame, textCol: String, idCol: String,
      label: Column, buckets: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        when(label, 1L).otherwise(0L).as("y"),
        Dsir.gramCells(col(textCol), buckets).as("cells0"),
        Sampling.bucket(col(idCol)).as("_bk"))
      .filter(size(col("cells0")) > 0)
      .select(col("doc_id"), col("y"), col("_bk"),
        array_distinct(col("cells0")).as("cells"))

  /** w · 10⁶ as an exact long — DECIMAL(18,6) values are integer
    * micro-units by construction. */
  private def microOf(d: java.math.BigDecimal): Long =
    d.movePointRight(6).longValueExact()

  /** The DECIMAL(18,6) value of `m` micro-units. */
  private def decOf(m: Long): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(m, 6)

  /** A bounded model as dense micro-units: `classes` in UTF-8-byte
    * order, one intercept per class in `b`, and the row-major
    * buckets×K cell-weight matrix `w` (absent cells are 0). */
  private final case class Dense(classes: Seq[String], b: Array[Long],
      w: Array[Long])

  /** Σ_{c ∈ cells} wMicro(c) as one codegen'd kernel call — the exact
    * decimal z-sum in long micro-units (cells ∈ [0, buckets) by
    * construction, so the dense array lookup covers every cell; absent
    * weights are 0). The k=1 case of
    * [[graft.functions.VectorAdapters.softmaxZ]] — LONG sums are
    * associative, so the kernel is bit-identical to an exact decimal
    * fold. */
  private def zSumMicro(wMicro: Array[Long]): Column =
    element_at(graft.functions.GraftFunctions.softmax_z(col("cells"),
      typedLit(Seq(0L)), typedLit(wMicro.toSeq)), 1)

  /** The 6-dp sigmoid column of the model (b, z) — byte-identical to
    * `round(1/(1+exp(-(b::double + zsum::double))), 6)::decimal(18,6)`
    * over the exact decimals (see the micro-unit note in the object
    * doc). `bMicro` is the intercept, `zm` the micro-unit z-sum
    * column. */
  private def sigmoid6(bMicro: Long, zm: Column): Column =
    round(lit(1.0) / (lit(1.0) + exp(-(lit(decOf(bMicro).doubleValue) +
      zm.cast("double") / lit(1e6)))), 6).cast(Dec)

  /** The one weight-table decoder: (cell, cls, w) rows — `cls` is the
    * class column of a softmax table, a constant for a binary one —
    * into a [[Dense]] model, validated as it is read. A null key or
    * weight, a cell outside [0, buckets) other than the intercept's −1
    * (e.g. a model trained with another `buckets`), a duplicate
    * (cell, cls) row, a duplicate intercept, or a cell row of a class
    * without an intercept throws a named IllegalArgumentException. A
    * table with no intercept row at all decodes to no classes. */
  private def decode(weights: DataFrame, cls: Column, buckets: Int)
      : Dense = {
    val rows = weights.select(col("cell"), cls.as("cls"), col("w"))
      .collect()
    def bad(why: String): Nothing =
      throw new IllegalArgumentException(s"malformed LR weight table: $why")
    val seen = scala.collection.mutable.HashSet.empty[(Long, String)]
    rows.foreach { r =>
      if (r.anyNull) bad(s"null cell, cls or w in row $r")
      val key = (r.getLong(0), r.getString(1))
      if (key._1 != -1L && (key._1 < 0 || key._1 >= buckets))
        bad(s"cell ${key._1} outside [0, $buckets) — was the model " +
          s"trained with buckets = $buckets?")
      if (!seen.add(key))
        bad(if (key._1 == -1L) s"duplicate intercept for class '${key._2}'"
          else s"duplicate row for cell ${key._1}, class '${key._2}'")
    }
    val classes = utf8Sorted(seen.toSeq.collect { case (-1L, c) => c })
    val idx = classes.zipWithIndex.toMap
    val k = classes.size
    val m = Dense(classes, new Array[Long](k), new Array[Long](buckets * k))
    if (k > 0) rows.foreach { r =>
      val cell = r.getLong(0)
      val ki = idx.getOrElse(r.getString(1),
        bad(s"cell $cell has class '${r.getString(1)}' without an intercept"))
      if (cell == -1L) m.b(ki) = microOf(r.getDecimal(2))
      else m.w(cell.toInt * k + ki) = microOf(r.getDecimal(2))
    }
    m
  }

  /** Ascending by UTF-8 bytes — the comparison Spark's string ordering
    * (UTF8String binary order) uses, so serve-side class ordering
    * matches the engine's `orderBy(cls)` tie-break exactly. */
  private def utf8Sorted(xs: Seq[String]): Seq[String] = {
    val cmp = new java.util.Comparator[String] {
      def compare(a: String, b: String): Int = {
        val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val n = math.min(x.length, y.length)
        var i = 0
        while (i < n) {
          val c = (x(i) & 0xff) - (y(i) & 0xff)
          if (c != 0) return c
          i += 1
        }
        x.length - y.length
      }
    }
    xs.sorted(Ordering.comparatorToOrdering(cmp))
  }

  /** The training slice's two fixed-cost scalars from ONE bounded
    * aggregate: n, the training-document count baked into every step
    * literal, and the class alphabet (`alphabet`, an aggregate or a
    * literal string array). The same aggregate enforces the doc grain
    * the descent assumes — one row per non-null doc_id — so the check
    * costs no job. */
  private def trainingSlice(trainer: String, idCol: String,
      feats: DataFrame, alphabet: Column): (Long, Seq[String]) = {
    val meta = feats.agg(count(lit(1)), countDistinct(col("doc_id")),
      alphabet).head()
    val n = meta.getLong(0)
    if (meta.getLong(1) != n)
      throw new IllegalArgumentException(s"$trainer: $idCol must be " +
        s"unique and non-null over the training slice, but its $n " +
        s"documents carry ${meta.getLong(1)} distinct non-null ids")
    require(n > 0, "no training documents with at least one gram")
    (n, meta.getSeq[String](2))
  }

  /** The full-batch descent both trainers share, with the model on the
    * driver. `errs` maps the current model to the doc-grain frame
    * (cells, then one decimal error column p − y per class, in
    * `classes` order). Each iteration sums the errors per cell (the
    * −2 sentinel carrying the intercepts), lets Spark round each step
    * `round(η·g/n, 6)::decimal(18,6)`, collects the ≤ buckets+1 step
    * rows and subtracts them in micro-units — exactly
    * `(coalesce(w, 0) − step)::decimal(18,6)`, overflow included.
    * Returns the model and, ascending, the cells that carry a gradient
    * (every cell of a training document): the weight table's rows. */
  private def descend(feats: DataFrame, n: Long, classes: Seq[String],
      buckets: Int, iters: Int, step: Double)(errs: Dense => DataFrame)
      : (Dense, Seq[Int]) = {
    val k = classes.size
    val m = Dense(classes, new Array[Long](k), new Array[Long](buckets * k))
    val hasGrad = new Array[Boolean](buckets)
    val g = (0 until k).map(i => s"__g$i")
    def minus(wm: Long, d: java.math.BigDecimal): Long = {
      val x = if (d == null) MaxMicro else wm - microOf(d)
      if (math.abs(x) >= MaxMicro)
        throw new ArithmeticException(s"LR weight update overflows $Dec")
      x
    }
    for (_ <- 1 to iters) {
      val e = errs(m)
      val errCols = e.columns.tail.toSeq.map(col)
      val sums = errCols.zip(g).map { case (c, gi) =>
        sum(c.cast(Dec28)).as(gi) }
      e.select(explode(concat(col("cells"), array(lit(-2L)))).as("cell")
          +: errCols: _*)
        .groupBy("cell").agg(sums.head, sums.tail: _*)
        .select(col("cell") +: g.map(gi => round(lit(step) *
          col(gi).cast("double") / lit(n), 6).cast(Dec)): _*)
        .collect().foreach { r =>
          val cell = r.getLong(0).toInt
          val (arr, off) =
            if (cell == -2) (m.b, 0)
            else { hasGrad(cell) = true; (m.w, cell * k) }
          for (i <- 0 until k)
            arr(off + i) = minus(arr(off + i), r.getDecimal(i + 1))
        }
    }
    (m, (0 until buckets).filter(hasGrad))
  }

  /**
   * The trained model: `(cell, w)` rows with `cell = -1` holding the
   * intercept, weights DECIMAL(18,6) — exactly the values scoring
   * sums, so a persisted model serves bit-identically. ≤ `buckets`+1
   * rows at any corpus size, ordered by cell; a local relation built
   * once from the driver-held model after the last step.
   */
  def trainWeights(docs: DataFrame, textCol: String, idCol: String,
      label: Column, buckets: Int = 256, iters: Int = 24,
      step: Double = 3.0, trainBuckets: Long = 8000): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(iters > 0, s"iters must be positive, got $iters")
    // the corpus-sized relation every iteration re-reads: materialized
    // once at DOC grain (one array row per document)
    val feats = Materialized(
      featFrame(docs, textCol, idCol, label, buckets)
        .filter(col("_bk") < trainBuckets)
        .select("doc_id", "y", "cells"))
    // one class: the sigmoid's error p(y=1) − y
    val (n, classes) = trainingSlice("trainWeights", idCol, feats,
      typedLit(Seq("1")))
    val (m, cells) = descend(feats, n, classes, buckets, iters, step) {
      cur => feats.select(col("cells"), (sigmoid6(cur.b(0),
        zSumMicro(cur.w)) - col("y")).cast(Dec).as("__err0"))
    }
    docs.sparkSession.createDataFrame(
      (Row(-1L, decOf(m.b(0))) +: cells.map(c => Row(c.toLong, decOf(m.w(c)))))
        .asJava,
      StructType(Seq(StructField("cell", LongType, nullable = false),
        StructField("w", DecimalType(18, 6), nullable = true))))
  }

  /** Score `feats` (doc-grain rows from [[featFrame]]) against a
    * weight table from [[trainWeights]] — a pure map-side projection:
    * the bounded model is decoded (≤ buckets+1 rows by construction,
    * validated by [[decode]]) and rides in the plan as a micro-unit
    * array literal; z, σ and the gate are in-row. Output: (doc_id,
    * label_true, prob, label_pred), prob the 6-dp sigmoid. NOTE:
    * scoring is per-ROW — under duplicate doc_ids each row is scored
    * independently; the library-wide doc grain assumes id-unique
    * documents (documented rather than asserted: the uniqueness check
    * would cost a corpus-wide exchange per serve). */
  private def score(feats: DataFrame, weights: DataFrame,
      buckets: Int): DataFrame = {
    val m = decode(weights, lit("1"), buckets)
    if (m.classes.isEmpty)
      // no intercept row: nothing to score against — an empty result
      feats.select(col("doc_id"), col("y").as("label_true"),
        lit(0.0).as("prob"), lit(0L).as("label_pred"))
        .filter(lit(false))
    else
      feats
        .select(col("doc_id"), col("y"), zSumMicro(m.w).as("__zm"))
        .select(col("doc_id"), col("y"),
          sigmoid6(m.b(0), col("__zm")).as("p"))
        .select(col("doc_id"), col("y").as("label_true"),
          col("p").cast("double").as("prob"),
          when(col("p") >= 0.5, 1L).otherwise(0L).as("label_pred"))
  }

  /** Train on the `bucket(id) < trainBuckets` slice, predict the rest. */
  def predict(docs: DataFrame, textCol: String, idCol: String,
      label: Column, buckets: Int = 256, iters: Int = 24,
      step: Double = 3.0, trainBuckets: Long = 8000): DataFrame =
    predictWithWeights(docs, textCol, idCol, label,
      trainWeights(docs, textCol, idCol, label, buckets, iters, step,
        trainBuckets), buckets, trainBuckets)

  /** [[predict]] over a PRECOMPUTED weight table — pass the shared
    * frame when several consumers score with the same model (training
    * is the expensive part). */
  def predictWithWeights(docs: DataFrame, textCol: String, idCol: String,
      label: Column, weights: DataFrame, buckets: Int = 256,
      trainBuckets: Long = 8000): DataFrame =
    score(
      featFrame(docs, textCol, idCol, label, buckets)
        .filter(col("_bk") >= trainBuckets).select("doc_id", "y", "cells"),
      weights, buckets)

  /**
   * Calibration mart — the classifier-QA report a curation team reads
   * before trusting a quality gate (the FineWeb-style reliability
   * check): the corpus scored against a PRETRAINED weight table
   * (trainBuckets = 0 — every gram-bearing document), probabilities
   * cut into `bins` fixed-width bins, and per bin the document count,
   * the exact mean predicted probability, and the empirical
   * positive-label rate. A calibrated classifier has mean_prob ≈
   * frac_positive per bin; systematic gaps mean the 0.5 gate is
   * mistuned. All means are integer micro-unit arithmetic (the
   * engine-exact rounding discipline), so the oracle replays the
   * report bit-for-bit. One plan-literal-model projection + one
   * bounded (`bins`-row) aggregation — mart-sized output at any
   * corpus size.
   */
  def calibrationReport(docs: DataFrame, textCol: String, idCol: String,
      label: Column, weights: DataFrame, buckets: Int = 256,
      bins: Int = 10): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    predictWithWeights(docs, textCol, idCol, label, weights, buckets,
        trainBuckets = 0)
      .select(
        least(floor(col("prob") * bins), lit(bins - 1)).cast("long")
          .as("bin"),
        col("label_true"),
        // exact micro-unit recovery: prob IS k/10⁶ for integer k
        round(col("prob") * 1000000).cast("long").as("__m"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__m")).as("__sm"), sum(col("label_true")).as("__pos"))
      .select(col("bin"), col("n_docs"),
        (expr("(2 * __sm + n_docs) DIV (2 * n_docs)") / 1000000.0)
          .as("mean_prob"),
        (expr("(2 * __pos * 10000 + n_docs) DIV (2 * n_docs)") / 10000.0)
          .as("frac_positive"))
  }

  /** Persist the trained weight table — decimals round-trip parquet
    * exactly, so serving from disk is bit-identical to [[predict]]. */
  def writeModel(docs: DataFrame, textCol: String, idCol: String,
      label: Column, path: String, buckets: Int = 256, iters: Int = 24,
      step: Double = 3.0, trainBuckets: Long = 8000): Unit =
    trainWeights(docs, textCol, idCol, label, buckets, iters, step,
      trainBuckets).write.mode("overwrite").parquet(path)

  /** Score the held-out slice from a model persisted by
    * [[writeModel]]. Row-identical to [[predict]]. */
  def predictFromModel(docs: DataFrame, textCol: String, idCol: String,
      label: Column, path: String, buckets: Int = 256,
      trainBuckets: Long = 8000): DataFrame =
    score(
      featFrame(docs, textCol, idCol, label, buckets)
        .filter(col("_bk") >= trainBuckets).select("doc_id", "y", "cells"),
      docs.sparkSession.read.parquet(path), buckets)

  // ------------------------------------------------- multiclass softmax

  /** Doc-grain presence features with a STRING class label (the
    * multiclass sibling of [[featFrame]]): (doc_id, y, _bk, cells) —
    * one row per labeled gram-bearing document. */
  private def featFrameMulti(docs: DataFrame, textCol: String,
      idCol: String, labelCol: String, buckets: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        col(labelCol).cast("string").as("y"),
        Dsir.gramCells(col(textCol), buckets).as("cells0"),
        Sampling.bucket(col(idCol)).as("_bk"))
      .filter(col("y").isNotNull && size(col("cells0")) > 0)
      .select(col("doc_id"), col("y"), col("_bk"),
        array_distinct(col("cells0")).as("cells"))

  /** The in-row softmax chain over a plan-literal model: appends
    * `__p` — the array of per-class 6-dp probabilities in `classes`
    * order. Each stage binds its intermediate so every expression is
    * evaluated once per document: z (exact micro-units) → z_max (exact
    * comparison) → e = round(exp(Δz), 6) → den (exact decimal sum) →
    * p = round(e/den, 6).
    *
    * The per-GRAM fold runs as the codegen'd
    * [[graft.functions.GraftFunctions.softmax_z]] kernel (exact LONG
    * sums), and the per-CLASS tail (exp, the exact decimal denominator,
    * the 6-dp division) is unrolled into K plain columns — every
    * expression a codegen'd built-in, none of it HOF. */
  private def withSoftmaxProbs(feats: DataFrame, m: Dense): DataFrame = {
    val k = m.classes.size
    val zt = graft.functions.GraftFunctions.softmax_z(col("cells"),
      typedLit(m.b.toSeq), typedLit(m.w.toSeq))
    val eCols = (0 until k).map(i => s"__e$i")
    val withE = (0 until k).foldLeft(
      feats.withColumn("__zt", zt)
        .withColumn("__zmax", array_max(col("__zt")))) { (df, i) =>
      df.withColumn(eCols(i),
        round(exp(((element_at(col("__zt"), i + 1) - col("__zmax"))
          .cast("double")) / lit(1e6)), 6).cast(Dec))
    }
    val den = eCols.foldLeft(lit(0).cast(Dec28))(
      (a, e) => (a + col(e)).cast(Dec28))
    withE
      .withColumn("__den", den)
      .withColumn("__p", array(eCols.map(e =>
        round(col(e).cast("double") / col("__den").cast("double"), 6)
          .cast(Dec)): _*))
      .drop(Seq("__zt", "__zmax", "__den") ++ eCols: _*)
  }

  /**
   * Multiclass (softmax) logistic regression — the trained language /
   * domain identifier shape (fastText's headline use): K classes from a
   * label COLUMN, per-class weight rows keyed (cell, cls) with the
   * intercepts at cell = −1, trained by the same fixed-iteration
   * full-batch decimal-exact descent as [[trainWeights]]:
   *
   *   p_{d,c} = softmax_c(b_c + Σ_{g∈d} w_{g,c})
   *   w ← w − η/n · Σ_d (p_{d,c} − 1[y_d = c]) · x_d
   *
   * Determinism: logits are exact decimal sums; the max-shift is an
   * exact decimal comparison; exp(z − z_max) is the only transcendental,
   * rounded to 6 dp; the denominator is an exact decimal sum over the
   * bounded class set; the probability and the step are each one
   * double expression rounded to 6 dp — every iteration replays
   * bit-for-bit as oracle CTEs.
   *
   * Scale shape: the descent of [[trainWeights]] with K error columns
   * — per iteration ONE map-side pass over the doc-grain feature frame
   * (logits/softmax/err in-row against the ≤ buckets·K + K entry
   * plan-literal model, see [[withSoftmaxProbs]]) and one
   * partial-aggregated CELL hash aggregation carrying K per-class
   * decimal sum columns (the −2 sentinel cell carries the per-class
   * intercept gradient), collected as ≤ buckets+1 rows and applied on
   * the driver. Cost linear in corpus grams per iteration (the
   * gradient exchange does not multiply rows by K), and the model is
   * plan-literal-sized at any corpus size (the
   * [[Classifier.nbPredictHashed]] bound with a discriminative
   * objective). Output rows are ordered by (cell, cls).
   */
  def trainSoftmaxWeights(docs: DataFrame, textCol: String, idCol: String,
      labelCol: String, buckets: Int = 256, iters: Int = 12,
      step: Double = 3.0, trainBuckets: Long = 8000,
      maxClasses: Int = 256): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(iters > 0, s"iters must be positive, got $iters")
    require(maxClasses >= 2, s"maxClasses must be >= 2, got $maxClasses")
    // guard BEFORE featurization (the `maxLlmBand` discipline): a caller
    // who wires a high-cardinality column (URL, doc_id) as labelCol would
    // otherwise collect millions of rows to the driver and build a
    // buckets×K-row model. Checking docs.select(labelCol) — doc grain,
    // one narrow column — instead of the materialized doc×cell feature
    // frame also protects the featurization itself from a pathological
    // label column and costs one narrow scan, not a second pass over the
    // feature frame; limit(max+1) bounds the check itself
    val kCount = docs.select(col(labelCol)).distinct()
      .limit(maxClasses + 1).count()
    require(kCount <= maxClasses,
      s"trainSoftmaxWeights found more than $maxClasses distinct " +
        s"labels in '$labelCol' — a softmax langid/classifier label " +
        "set is small by design (the model is buckets×K rows, held on " +
        "the driver); check the label column, or raise maxClasses " +
        "explicitly if the cardinality is intended")
    val feats = Materialized(
      featFrameMulti(docs, textCol, idCol, labelCol, buckets)
        .filter(col("_bk") < trainBuckets)
        .select("doc_id", "y", "cells"))
    // the class alphabet (≤ maxClasses strings by the guard above),
    // sorted so the model — and every downstream plan — is deterministic
    val (n, classes) = trainingSlice("trainSoftmaxWeights", idCol, feats,
      sort_array(collect_set(col("y"))))
    require(classes.size >= 2,
      s"softmax needs at least 2 classes, got ${classes.size}")
    val k = classes.size
    val (m, cells) = descend(feats, n, classes, buckets, iters, step) {
      cur => withSoftmaxProbs(feats, cur).select(col("cells") +:
        classes.zipWithIndex.map { case (c, i) =>
          (element_at(col("__p"), i + 1) -
            when(col("y") === c, 1L).otherwise(0L)).cast(Dec).as(s"__err$i")
        }: _*)
    }
    // rows in (cell, cls) order, cls compared as Scala Strings
    val byName = classes.indices.sortBy(classes)
    docs.sparkSession.createDataFrame(
      (for (c <- -1 +: cells; i <- byName) yield Row(c.toLong, classes(i),
        decOf(if (c < 0) m.b(i) else m.w(c * k + i)))).asJava,
      StructType(Seq(StructField("cell", LongType, nullable = false),
        StructField("cls", StringType, nullable = false),
        StructField("w", DecimalType(18, 6), nullable = true))))
  }

  /** Score doc-grain `feats` (held-out docs) against a softmax weight
    * table — a pure map-side projection: the bounded model is decoded
    * (validated by [[decode]]) and rides in the plan as micro-unit
    * array literals; argmax class with ties to the ascending class name
    * (classes are UTF-8-byte sorted — Spark's own string order — so the
    * in-row first-max is the `orderBy(p desc, cls asc)` ranking).
    * Output: (doc_id, label_true, label_pred, prob) — prob the 6-dp
    * softmax of the predicted class. */
  private def scoreSoftmax(feats: DataFrame, weights: DataFrame,
      buckets: Int): DataFrame = {
    val m = decode(weights, col("cls"), buckets)
    if (m.classes.isEmpty)
      // no intercept rows: nothing to score against — an empty result
      feats.select(col("doc_id"), col("y").as("label_true"),
        lit(null).cast("string").as("label_pred"), lit(0.0).as("prob"))
        .filter(lit(false))
    else {
      val classesLit = typedLit(m.classes)
      // label_pred is never null (__i ∈ [1, K]); the coalesce says so to
      // the optimizer. A nullable label_pred lets a consumer's inferred
      // isnotnull(label_pred) (any join or group on it) be pushed down
      // with the whole softmax chain inlined twice per class: a filter
      // whose generated code grows beyond Janino's 64 KB method limit.
      withSoftmaxProbs(feats, m)
        .withColumn("__i",
          array_position(col("__p"), array_max(col("__p"))).cast("int"))
        .select(col("doc_id"), col("y").as("label_true"),
          coalesce(element_at(classesLit, col("__i")), lit(m.classes.head))
            .as("label_pred"),
          element_at(col("__p"), col("__i")).cast("double").as("prob"))
    }
  }

  /** Train on the `bucket(id) < trainBuckets` slice, predict the rest. */
  def predictSoftmax(docs: DataFrame, textCol: String, idCol: String,
      labelCol: String, buckets: Int = 256, iters: Int = 12,
      step: Double = 3.0, trainBuckets: Long = 8000): DataFrame =
    predictWithSoftmaxWeights(docs, textCol, idCol, labelCol,
      trainSoftmaxWeights(docs, textCol, idCol, labelCol, buckets, iters,
        step, trainBuckets), buckets, trainBuckets)

  /** [[predictSoftmax]] over a PRECOMPUTED weight table. */
  def predictWithSoftmaxWeights(docs: DataFrame, textCol: String,
      idCol: String, labelCol: String, weights: DataFrame,
      buckets: Int = 256, trainBuckets: Long = 8000): DataFrame =
    scoreSoftmax(
      featFrameMulti(docs, textCol, idCol, labelCol, buckets)
        .filter(col("_bk") >= trainBuckets).select("doc_id", "y", "cells"),
      weights, buckets)

  /** Persist the trained softmax weight table — decimals round-trip
    * parquet exactly, so serving from disk is bit-identical. */
  def writeSoftmaxModel(docs: DataFrame, textCol: String, idCol: String,
      labelCol: String, path: String, buckets: Int = 256, iters: Int = 12,
      step: Double = 3.0, trainBuckets: Long = 8000): Unit =
    trainSoftmaxWeights(docs, textCol, idCol, labelCol, buckets, iters,
      step, trainBuckets).write.mode("overwrite").parquet(path)

  /** Score the held-out slice from a model persisted by
    * [[writeSoftmaxModel]]. Row-identical to [[predictSoftmax]]. */
  def softmaxPredictFromModel(docs: DataFrame, textCol: String,
      idCol: String, labelCol: String, path: String, buckets: Int = 256,
      trainBuckets: Long = 8000): DataFrame =
    scoreSoftmax(
      featFrameMulti(docs, textCol, idCol, labelCol, buckets)
        .filter(col("_bk") >= trainBuckets).select("doc_id", "y", "cells"),
      docs.sparkSession.read.parquet(path), buckets)
}
