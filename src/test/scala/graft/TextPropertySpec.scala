package graft

import graft.functions.{AbnKernel, SimilarityKernel, Text}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.apache.spark.unsafe.types.UTF8String

/** Property tests promised by SURVEY §5: normalization idempotence, ABN
  * checksum vs an independently-computed table, similarity bounds. */
class TextPropertySpec extends SparkSpec {

  /** Deterministic property driver: n samples from a seeded generator. */
  private def forAll[A](g: Gen[A], n: Int = 60)(f: A => Unit): Unit = {
    val params = org.scalacheck.Gen.Parameters.default
    var seed = org.scalacheck.rng.Seed(42L)
    (0 until n).foreach { _ =>
      g.apply(params, seed).foreach(f)
      seed = seed.next
    }
  }
  private def forAll2[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(for { a <- ga; b <- gb } yield (a, b))(t => f(t._1, t._2))

  private val nameGen: Gen[String] = for {
    words <- Gen.listOfN(4, Gen.oneOf("ACME", "pty", "LTD", "Trading",
      "&", "Group", "Ltd.", "the", "Söme", "2000", "co"))
    sep <- Gen.oneOf(" ", "  ", " - ")
  } yield words.mkString(sep)

  private def normalize(s: String): String = {
    import spark.implicits._
    Seq(s).toDF("x").select(Text.normalizeName(col("x"))).collect()
      .head.getString(0)
  }

  test("normalizeName is idempotent (F1)") {
    forAll(nameGen) { s =>
      val once = normalize(s)
      assert(normalize(once) === once)
    }
  }

  test("blockKey is a ≤n-char lowercase prefix of the normalized name (F5)") {
    import spark.implicits._
    forAll(nameGen) { s =>
      val r = Seq(s).toDF("x")
        .select(Text.normalizeName(col("x")).as("n"))
        .select(col("n"), Text.blockKey(col("n")).as("b"))
        .collect().head
      val b = r.getString(1)
      assert(b.length <= 4)
      assert(b === r.getString(0).toLowerCase.take(4))
    }
  }

  test("ABN checksum matches independent arithmetic (F10)") {
    val weights = Seq(10, 1, 3, 5, 7, 9, 11, 13, 15, 17, 19)
    def expected(abn: String): Boolean =
      abn.length == 11 && abn.forall(_.isDigit) && {
        val ds = abn.map(_ - '0').toArray
        ds(0) -= 1
        ds.zip(weights).map { case (d, w) => d * w }.sum % 89 == 0
      }
    forAll(Gen.listOfN(11, Gen.numChar).map(_.mkString)) { abn =>
      assert(AbnKernel.isValid(UTF8String.fromString(abn)) === expected(abn))
    }
    // the known-valid ABN from the reference tests (test_parsing.py:51-53)
    assert(AbnKernel.isValid(UTF8String.fromString("51824753556")))
  }

  test("similarity kernels bounded in [0,1] and reflexive (F19)") {
    forAll2(nameGen, nameGen) { (a, b) =>
      for (f <- Seq[(String, String) => Double](
        SimilarityKernel.tokenSortRatio, SimilarityKernel.ratio,
        SimilarityKernel.tokenSetRatio, SimilarityKernel.partialRatio)) {
        val v = f(a, b)
        assert(v >= 0.0 && v <= 1.0)
        assert(f(a, a) === 1.0)
      }
    }
  }

  /** Adversarial text: mixed-case unicode, digits, punctuation runs,
    * repeated/empty whitespace — the inputs most likely to expose a
    * kernel-vs-expression divergence (case mapping, token splitting). */
  private val docGen: Gen[String] = for {
    words <- Gen.listOfN(12, Gen.oneOf("Alpha", "beta", "GAMMA", "Söme",
      "ÄÖÜ", "straße", "ŁÓDŹ", "日本", "x1", "2000", "a-b", "&", "...",
      "", "I", "İ", "i"))
    sep <- Gen.oneOf(" ", "  ", "\t", " \n ")
  } yield words.mkString(sep)

  test("dsir_cells kernel matches the expression twin on adversarial text") {
    import spark.implicits._
    forAll(docGen, n = 40) { s =>
      val df = Seq(s).toDF("text")
      val k = df.select(graft.text.Dsir.gramCellsPublicForTest(col("text"), 64))
        .collect().head.getSeq[Long](0)
      val e = df.select(graft.text.Dsir.gramCellsExpr(col("text"), 64))
        .collect().head.getSeq[Long](0)
      assert(k == e, s"cells diverged for <$s>")
    }
  }

  test("token_windows kernel matches slice+concat on adversarial text") {
    import spark.implicits._
    import graft.text.TextAnalysis
    forAll(docGen, n = 40) { s =>
      val df = Seq(s).toDF("text")
      val k = df.select(graft.functions.GraftFunctions
        .token_windows(col("text"), 3, 1)).collect().head.getSeq[String](0)
      val toks = TextAnalysis.tokens(col("text"))
      val e = df.select(when(size(toks) >= 3,
        transform(sequence(lit(0), size(toks) - 3),
          i => concat_ws(" ", slice(toks, i + 1, lit(3)))))
        .otherwise(array().cast("array<string>")))
        .collect().head.getSeq[String](0)
      assert(k == e, s"windows diverged for <$s>")
    }
  }

  // generator biased toward the GPT-2 pretokenizer's edge cases:
  // multi-space runs, tabs/newlines inside runs, contractions, digits,
  // punctuation runs, non-ASCII letters, leading/trailing whitespace
  private val pretokGen: Gen[String] = for {
    parts <- Gen.listOfN(10, Gen.oneOf(
      "the", "It's", "don't", "42", "3.14", "!!", "—", "héllo", "日本",
      "𝄞", " ", "  ", "   ", "\t", " \t ", "\n", "a", "B"))
  } yield parts.mkString("")

  test("GPT-2 pretokenization: engine stream is total and matches the driver regex on randomized edge-case inputs") {
    import spark.implicits._
    val pat = java.util.regex.Pattern.compile(graft.text.Bpe.Gpt2Pretok)
    forAll(pretokGen, n = 80) { s =>
      val engine = Seq(s).toDF("x")
        .select(graft.text.Bpe.pretokens(col("x")))
        .collect().head.getSeq[String](0).toSeq
      val m = pat.matcher(s)
      val driver = Iterator.continually(m.find()).takeWhile(identity)
        .map(_ => m.group()).toSeq
      assert(engine === driver, s"pretokens diverged for <${
        s.replace("\t", "\\t").replace("\n", "\\n")}>")
      // totality: every character lands in exactly one pretoken
      assert(engine.mkString === s)
    }
  }
}
