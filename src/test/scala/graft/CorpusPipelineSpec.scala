package graft

import graft.corpus.CorpusPipeline
import org.apache.spark.sql.functions._

/** End-to-end corpus preparation: each stage drops exactly the planted
  * offender; the composed output packs the survivors. */
class CorpusPipelineSpec extends SparkSpec {

  test("each stage drops its planted offender; survivors pack") {
    val s = spark
    import s.implicits._
    val long = (1 to 40).map(i => s"word$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 40) "CHANGED" else s"word$i")
      .mkString(" ")
    val benchText = (100 to 130).map(i => s"eval$i").mkString(" ")
    val docs = Seq(
      (1L, long, "en"), // keeper
      (2L, "too short", "en"), // dropped: quality (< 10 tokens)
      (4L, long, "en"), // dropped: exact dup of 1
      (5L, near, "en"), // dropped: near dup of 1 (jaccard >> 0.8)
      (6L, ("alpha beta " * 10).trim, "de"), // keeper
      (13L, benchText, "en"), // the benchmark doc (id % 10 = 3)
      // dropped at DECONTAMINATION, not near-dedup: the filler tokens
      // push jaccard vs the bench doc below 0.8 while containment stays 1
      (7L, s"intro words here and more filler tokens one two three four " +
        s"five six seven eight nine ten $benchText", "en"),
      (8L, ("gamma delta " * 10).trim, "fr")) // keeper
      .toDF("doc_id", "text", "lang")
    val bench = docs.filter(col("doc_id") % 10 === 3)
    val stats = CorpusPipeline.stageStats(docs, bench, "text", "doc_id",
      "lang", minTokens = 10,
      targetShares = Map("en" -> 0.4, "de" -> 0.3, "fr" -> 0.3),
      outFraction = 1.0).toMap
    assert(stats("input") == 8)
    assert(stats("quality") == 7) // doc 2 out
    assert(stats("exact_dedup") == 6) // doc 4 out
    assert(stats("near_dedup") == 5) // doc 5 out
    // doc 7 contains the benchmark; 13 IS the benchmark (self-pair
    // excluded, stays unless another bench doc matches it)
    assert(stats("decontaminated") == 4)
    assert(stats("mixed") <= 4 && stats("mixed") > 0)
    val packed = CorpusPipeline.prepare(docs, bench, "text", "doc_id",
      "lang", minTokens = 10,
      targetShares = Map("en" -> 0.4, "de" -> 0.3, "fr" -> 0.3),
      outFraction = 1.0)
    assert(packed.count() == stats("mixed"))
    // packing invariants on the composition output
    assert(packed.filter(col("seq_offset") >= 512).count() == 0)
    assert(packed.filter(col("n_tokens") <= 0).count() == 0)
  }

  test("pipeline on testdata: stages monotonically non-increasing") {
    val docs = Demo.table(spark, sf(), "documents")
    val stats = CorpusPipeline.stageStats(docs,
      docs.filter(col("doc_id") % 10 === 3), "text", "doc_id", "lang",
      targetShares = Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2)).toMap
    val order = Seq("input", "quality", "exact_dedup", "near_dedup",
      "decontaminated", "mixed")
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(stats(a) >= stats(b), s"$a=${stats(a)} < $b=${stats(b)}")
    }
    assert(stats("mixed") > 0)
  }

  test("quality stack: each gate fails its planted offender; the good docs pass all four") {
    val s = spark
    import s.implicits._
    // a gopher-passing, c4-passing base line: > 50 words, mean word
    // length in [3,10], >= 80% alpha words, two stopword hits, ends in
    // a terminal-punctuation line of >= 3 words
    val good = (("the spark engine and that data " * 10).trim + " done.")
    val noSpark = (("the engine with all that data " * 10).trim + " done.")
    val docs = Seq.tabulate(8)(i => (i.toLong, good)) ++ Seq(
      (100L, noSpark),            // fails only the LR gate (no seed word)
      (101L, "too few words."),   // fails gopher (word floor)
      (102L, good.dropRight(1)),  // fails c4 (no terminal punctuation)
      (103L, ""))                 // invisible to the model gates
    val df = docs.toDF("doc_id", "text")
    val label = array_contains(
      graft.text.TextAnalysis.tokens(col("text")), "spark")
    val w = graft.text.LogisticRegression.trainWeights(
      df, "text", "doc_id", label)
    val out = CorpusPipeline.qualityStack(df, "text", "doc_id", label, w)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r).toMap
    // keep is exactly the conjunction of its reason columns, every row
    out.values.foreach { r =>
      val expect = Option(r.getAs[java.lang.Boolean]("gopher_pass")).exists(_.booleanValue) &&
        Option(r.getAs[java.lang.Boolean]("c4_pass")).exists(_.booleanValue) &&
        !r.isNullAt(r.fieldIndex("lr_prob")) && r.getAs[Double]("lr_prob") >= 0.5 &&
        Seq("head", "middle").contains(r.getAs[String]("ppl_bucket"))
      assert(r.getAs[Boolean]("keep") === expect, s"row $r")
    }
    (0L to 7L).foreach { id =>
      assert(out(id).getAs[Boolean]("keep"), s"good doc $id dropped: ${out(id)}")
    }
    assert(!out(100L).getAs[Boolean]("keep") &&
      out(100L).getAs[Boolean]("gopher_pass") &&
      out(100L).getAs[Boolean]("c4_pass") &&
      out(100L).getAs[Double]("lr_prob") < 0.5, s"${out(100L)}")
    assert(!out(101L).getAs[Boolean]("keep") &&
      !out(101L).getAs[Boolean]("gopher_pass"), s"${out(101L)}")
    assert(!out(102L).getAs[Boolean]("keep") &&
      !out(102L).getAs[Boolean]("c4_pass"), s"${out(102L)}")
    val empty = out(103L)
    assert(!empty.getAs[Boolean]("keep") &&
      empty.isNullAt(empty.fieldIndex("lr_prob")) &&
      empty.getAs[String]("ppl_bucket") === "none", s"$empty")
  }

  test("quality report: per-group gate counts equal hand-tallied stack rows; null gates count as fails") {
    val s = spark
    import s.implicits._
    val good = (("the spark engine and that data " * 10).trim + " done.")
    val docs = (Seq.tabulate(6)(i => (i.toLong, good)) ++ Seq(
      (100L, "too few words."), (101L, ""))).map { case (id, t) =>
      (id, t, if (id % 2 == 0) "en" else "de", s"src${id % 3}")
    }
    val df = docs.toDF("doc_id", "text", "lang", "source")
    val label = array_contains(
      graft.text.TextAnalysis.tokens(col("text")), "spark")
    val w = graft.text.LogisticRegression.trainWeights(
      df, "text", "doc_id", label)
    val stack = CorpusPipeline.qualityStack(df, "text", "doc_id", label, w)
    val stackRows = stack.collect().map(r => r.getLong(0) -> r).toMap
    val report = CorpusPipeline.qualityReport(stack, df, "doc_id",
      Seq("lang", "source")).collect()
    // hand-tally each group from the stack rows (plain Scala, not SQL)
    val byGroup = docs.groupBy(d => (d._3, d._4))
    assert(report.length === byGroup.size)
    report.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      val members = byGroup(key).map(d => stackRows(d._1))
      assert(r.getLong(2) === members.size, s"n_docs for $key")
      def tally(f: org.apache.spark.sql.Row => Boolean): Long =
        members.count(f).toLong
      assert(r.getLong(3) === tally(m =>
        Option(m.getAs[java.lang.Boolean]("gopher_pass")).exists(_.booleanValue)),
        s"gopher for $key")
      assert(r.getLong(5) === tally(m =>
        !m.isNullAt(m.fieldIndex("lr_prob")) &&
          m.getAs[Double]("lr_prob") >= 0.5), s"lr for $key")
      assert(r.getLong(7) === tally(_.getAs[Boolean]("keep")), s"kept for $key")
      assert(r.getDouble(8) ===
        math.round(r.getLong(7).toDouble / r.getLong(2) * 10000) / 10000.0,
        s"kept_frac for $key")
    }
    // the empty doc 101 (null gates) sits in group (de, src2) and fails
    val g = report.find(r => r.getString(0) == "de" && r.getString(1) == "src2").get
    assert(g.getLong(7) < g.getLong(2), "null-gate doc must not count as kept")
  }

  test("multilingual stack keeps a fluent minority language the corpus-wide gates wholesale drop") {
    val s = spark
    import s.implicits._
    // Majority language "en": 60 docs over a tight shared phrase set
    // (very high corpus bigram counts), half carrying the LR seed word.
    // Minority language "xx": 12 identical docs over a DISJOINT
    // pseudo-vocabulary — internally perfectly fluent, but their bigram
    // counts are 12 vs the majority's 60, so the CORPUS-wide LM ranks
    // every one of them bottom-17% (tail), and none contains the
    // English seed word, so the corpus-wide 0.5 LR gate fails them too.
    // The two Gopher stopwords ride in both languages so the
    // language-agnostic rule gates pass everything (word floor, mean
    // length, alpha fraction, stop hits, terminal punctuation).
    val sparkEn = (("the spark engine and that data " * 10).trim + " done.")
    val plainEn = (("the engine with all that data " * 10).trim + " done.")
    val minXx =
      (("zorbak mirthal the quenva droswel and " * 9).trim + " veltan prosim droswel.")
    val docs = (
      (0L until 30L).map(i => (i, sparkEn, "en")) ++
      (30L until 60L).map(i => (i, plainEn, "en")) ++
      (100L until 112L).map(i => (i, minXx, "xx"))).toDF(
      "doc_id", "text", "lang")
    val label = array_contains(
      graft.text.TextAnalysis.tokens(col("text")), "spark")
    val lrW = graft.text.LogisticRegression.trainWeights(
      docs, "text", "doc_id", label)
    val smW = graft.text.LogisticRegression.trainSoftmaxWeights(
      docs, "text", "doc_id", "lang")
    // the corpus-wide stack drops EVERY minority doc — tail perplexity
    // against the majority-dominated LM and lr_prob below the global cut
    val mono = CorpusPipeline.qualityStack(docs, "text", "doc_id",
      label, lrW).collect().map(r => r.getLong(0) -> r).toMap
    (100L until 112L).foreach { id =>
      val r = mono(id)
      assert(!r.getAs[Boolean]("keep"), s"corpus stack kept minority $id")
      assert(r.getAs[String]("ppl_bucket") === "tail", s"$r")
      assert(r.getAs[Double]("lr_prob") < 0.5, s"$r")
      assert(r.getAs[Boolean]("gopher_pass") &&
        r.getAs[Boolean]("c4_pass"),
        s"minority doc must fail only the MODEL gates: $r")
    }
    // the per-language stack routes them to their own language and
    // keeps them: scored against their OWN bigram model and cut at
    // THEIR language's quantiles, they are head-of-distribution
    val multi = CorpusPipeline.qualityStackMultilingual(docs, "text",
      "doc_id", "lang", smW, label, lrW)
      .collect().map(r => r.getLong(0) -> r).toMap
    (100L until 112L).foreach { id =>
      val r = multi(id)
      assert(r.getAs[String]("pred_lang") === "xx",
        s"router must recognize the minority language: $r")
      assert(r.getAs[Boolean]("keep"), s"multilingual stack dropped $id: $r")
    }
    // majority docs are still gated: the seed-word docs survive, and
    // keep remains exactly the conjunction of its reason columns
    (0L until 30L).foreach { id =>
      assert(multi(id).getAs[Boolean]("keep"), s"good majority $id: ${multi(id)}")
    }
    multi.values.foreach { r =>
      val expect =
        Option(r.getAs[java.lang.Boolean]("gopher_pass")).exists(_.booleanValue) &&
        Option(r.getAs[java.lang.Boolean]("c4_pass")).exists(_.booleanValue) &&
        Seq("head", "middle").contains(r.getAs[String]("lr_bucket")) &&
        Seq("head", "middle").contains(r.getAs[String]("ppl_bucket"))
      assert(r.getAs[Boolean]("keep") === expect, s"row $r")
    }
  }
}
