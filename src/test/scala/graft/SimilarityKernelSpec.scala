package graft

import graft.functions.{AbnKernel, MaskTable, SimilarityKernel => K}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM kernel tests. Golden score pairs come from the reference's
  * exported real run (actual_aws_db_exported_data/entity_match_results.csv)
  * — scores there are token_sort_ratio over normalized names. */
class SimilarityKernelSpec extends AnyFunSuite {

  private def r4(d: Double): BigDecimal =
    BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_EVEN)

  /** Deterministic property driver: n samples from a seeded generator. */
  private def forAll[A](g: Gen[A], n: Int = 500)(f: A => Unit): Unit = {
    var seed = Seed(101L)
    (0 until n).foreach { _ =>
      g.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
    }
  }

  /** Every member of Java's `\s` ([ \t\n\x0B\f\r]), Unicode spaces outside
    * it (NBSP, em space, ideographic space, NEL, FS), letters, CJK and a
    * lone surrogate. */
  private val spaceyChar: Gen[Char] = Gen.frequency(
    4 -> Gen.oneOf(' ', '\t', '\n', '\u000b', '\f', '\r'),
    2 -> Gen.oneOf('\u00a0', '\u2003', '\u3000', '\u0085', '\u001c'),
    6 -> Gen.oneOf('a', 'b', 'Z', '9', '&', '\u00e9'),
    2 -> Gen.oneOf('\u682a', '\u5f0f', '\u4f1a', '\u793e', '\ud83d'))
  private val spaceyString: Gen[String] =
    Gen.choose(0, 30).flatMap(n => Gen.listOfN(n, spaceyChar).map(_.mkString))

  /** Company-like names: shared words in any order, joined by runs of
    * mixed whitespace, so many pairs are near-matches. */
  private val nameString: Gen[String] = for {
    n <- Gen.choose(0, 5)
    words <- Gen.listOfN(n, Gen.oneOf("ACME", "PTY", "LTD", "GREEN",
      "ENERGY", "TRADING", "\u682a\u5f0f", "CAF\u00c9", "A\u00a0B", ""))
    seps <- Gen.listOfN(n + 1, Gen.oneOf(" ", "  ", "\t", " \r\n", "\u000b"))
  } yield seps.head + words.zip(seps.tail).map { case (w, s) => w + s }.mkString

  test("tokens equals split(\\s+) without empties (property)") {
    Seq("", "   ", "a", "\t a\u000bb\fc\rd  e\n", "a\u00a0b c", "\u682a\u5f0f \u4f1a\u793e")
      .foreach(s => assert(K.tokens(s).toSeq == s.split("\\s+").filter(_.nonEmpty).toSeq))
    forAll(Gen.oneOf(spaceyString, nameString)) { s =>
      assert(K.tokens(s).toSeq == s.split("\\s+").filter(_.nonEmpty).toSeq,
        s"tokens(${s.map(_.toInt)})")
    }
  }

  test("ratio over per-row token sorts equals token_sort_ratio bit for bit (property)") {
    val g = for {
      a <- Gen.oneOf(spaceyString, nameString)
      b <- Gen.oneOf(spaceyString, nameString)
    } yield (a, b)
    forAll(g, n = 2000) { case (a, b) =>
      assert(java.lang.Double.doubleToRawLongBits(K.ratio(K.tokenSort(a), K.tokenSort(b)))
        == java.lang.Double.doubleToRawLongBits(K.tokenSortRatio(a, b)), s"'$a' vs '$b'")
    }
  }

  /** Reference masks: a boxed HashMap[Character, Long], built directly. */
  private def boxedMasks(p: String): java.util.HashMap[Character, java.lang.Long] = {
    val m = new java.util.HashMap[Character, java.lang.Long]()
    p.indices.foreach { i =>
      val prev = m.getOrDefault(p.charAt(i), 0L)
      m.put(p.charAt(i), prev | (1L << i))
    }
    m
  }

  /** LCS through the boxed masks (Hyyrö bit-parallel) up to 64 chars, row
    * DP above: the old kernel's paths. */
  private def boxedIndel(s1: String, s2: String): Int = {
    val (a, b) = if (s1.length <= s2.length) (s2, s1) else (s1, s2)
    val lcs = if (b.length <= 64) {
      val masks = boxedMasks(b)
      val full = if (b.length == 64) -1L else (1L << b.length) - 1
      var s = full
      a.foreach { c =>
        val u = s & masks.getOrDefault(c, 0L)
        s = (s + u) | (s - u)
      }
      b.length - java.lang.Long.bitCount(s & full)
    } else {
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
          else math.max(dp(i - 1)(j), dp(i)(j - 1))
      dp(a.length)(b.length)
    }
    a.length + b.length - 2 * lcs
  }

  test("mask table agrees with the boxed HashMap path: chars >= 256, 63/64/65-char patterns") {
    // chars >= 256, and keys that share a table slot so the probing is
    // exercised: U+0100/U+0180/U+0200 at every capacity, 'A'/'a' at 16/32
    val alphabet = "aAb\u00e9\u0100\u0101\u0180\u0200\u682a\u5f0f\uffff"
    def strOf(n: Int): Gen[String] = Gen.listOfN(n, Gen.oneOf(alphabet)).map(_.mkString)
    val g = for {
      m <- Gen.oneOf(1, 2, 31, 32, 63, 64, 65)
      p <- strOf(m)
      t <- Gen.choose(0, 90).flatMap(strOf)
    } yield (p, t)
    forAll(g) { case (p, t) =>
      if (p.length <= 64) {
        val table = new MaskTable(p)
        val boxed = boxedMasks(p)
        alphabet.foreach(c => assert(table.get(c) == boxed.getOrDefault(c, 0L),
          s"mask of U+${c.toInt.toHexString} in '$p'"))
      }
      assert(K.indelDistance(p, t) == boxedIndel(p, t), s"indel('$p','$t')")
      assert(K.indelDistance(t, p) == boxedIndel(t, p), s"indel('$t','$p')")
    }
  }

  test("token_sort_ratio matches reference golden scores") {
    // (normalized cc name, normalized abr name, recorded fuzzy_score)
    val golden = Seq(
      ("CONTACT", "CONTRACTA", 0.8750),
      ("ASSETT", "ASSET", 0.9091),
      ("ASSETT", "ASSETIO", 0.7692),
      ("ASSETT", "ASSETID", 0.7692))
    golden.foreach { case (a, b, want) =>
      assert(r4(K.tokenSortRatio(a, b)) == r4(want), s"$a vs $b")
    }
  }

  test("token sort makes order irrelevant") {
    assert(K.tokenSortRatio("GREEN ENERGY PARTNERS", "PARTNERS GREEN ENERGY") == 1.0)
  }

  test("identical strings score 1.0; empty/null score 0.0") {
    assert(K.tokenSortRatio("ACME", "ACME") == 1.0)
    assert(K.tokenSortRatio("", "ACME") == 0.0)
    assert(K.tokenSortRatio(null, "ACME") == 0.0)
    assert(K.tokenSortRatio("ACME", null) == 0.0)
  }

  test("indel distance basics") {
    assert(K.indelDistance("", "") == 0)
    assert(K.indelDistance("abc", "") == 3)
    assert(K.indelDistance("abc", "abc") == 0)
    assert(K.indelDistance("abc", "abd") == 2) // substitution = ins+del
    assert(K.indelDistance("kitten", "sitting") == 5)
  }

  test("indel distance: bit-parallel path equals DP path (seeded random)") {
    // Strings straddle the 64-char boundary to exercise both paths.
    val rnd = new scala.util.Random(42)
    val alphabet = "abc "
    def randStr(): String = {
      val n = rnd.nextInt(101)
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    for (_ <- 1 to 500) {
      val s1 = randStr(); val s2 = randStr()
      val d = K.indelDistance(s1, s2)
      // Reference implementation: classic DP over indel costs.
      val dp = Array.tabulate(s1.length + 1)(i => i)
      for (j <- 1 to s2.length) {
        var prevDiag = dp(0)
        dp(0) = j
        for (i <- 1 to s1.length) {
          val tmp = dp(i)
          dp(i) =
            if (s1.charAt(i - 1) == s2.charAt(j - 1)) prevDiag
            else math.min(dp(i) + 1, dp(i - 1) + 1)
          prevDiag = tmp
        }
      }
      assert(d == dp(s1.length), s"indel('$s1','$s2')")
    }
  }

  test("similarity properties: symmetric, bounded (seeded random)") {
    val rnd = new scala.util.Random(7)
    def randStr(): String = {
      val n = rnd.nextInt(81)
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    for (_ <- 1 to 300) {
      val s1 = randStr(); val s2 = randStr()
      val r = K.tokenSortRatio(s1, s2)
      assert(r >= 0.0 && r <= 1.0)
      assert(math.abs(r - K.tokenSortRatio(s2, s1)) < 1e-12)
    }
  }

  test("jaccard tokens (reference entity_match.py:236-250)") {
    assert(K.jaccardTokens("green energy partners", "green energy") == 2.0 / 3.0)
    assert(K.jaccardTokens("ACME", "acme") == 1.0) // lowercased
    assert(K.jaccardTokens("", "") == 0.0)
    assert(K.jaccardTokens(null, "x") == 0.0)
  }

  test("token_set_ratio: subset tokens → 1.0") {
    assert(K.tokenSetRatio("ACME GROUP", "ACME") == 1.0)
    assert(K.tokenSetRatio("A B", "C D") < 1.0)
  }

  test("partial_ratio: substring → 1.0") {
    assert(K.partialRatio("ACME", "XXACMEXX") == 1.0)
  }

  test("partial_ratio fast path equals naive per-window max (seeded random)") {
    val rnd = new scala.util.Random(7)
    def naive(s1: String, s2: String): Double = {
      val (sh, lo) = if (s1.length <= s2.length) (s1, s2) else (s2, s1)
      if (sh.length == lo.length) K.indelSimilarity(sh, lo)
      else (0 to lo.length - sh.length)
        .map(i => K.indelSimilarity(sh, lo.substring(i, i + sh.length))).max
    }
    for (_ <- 1 to 300) {
      val a = (1 to 1 + rnd.nextInt(20)).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
      val b = (1 to 1 + rnd.nextInt(40)).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
      assert(K.partialRatio(a, b) === naive(a, b), s"a=$a b=$b")
    }
  }

  test("ABN checksum (reference utils.py:270-300, test_parsing.py:48-67)") {
    assert(AbnKernel.isValidString("51824753556"))
    assert(AbnKernel.isValidString("51 824 753 556")) // spaced input ok
    assert(!AbnKernel.isValidString("51824753557"))
    assert(!AbnKernel.isValidString("5182475355")) // 10 digits
    assert(!AbnKernel.isValidString("518247535567")) // 12 digits
    assert(!AbnKernel.isValidString(""))
    assert(!AbnKernel.isValidString(null))
  }

  test("fused nameRatios equals the four individual kernels (seeded random)") {
    val rnd = new scala.util.Random(7)
    val alphabet = "abcd xy"
    def randStr(): String = {
      val n = rnd.nextInt(80)
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val cases = Seq(("", ""), ("a b", ""), (null, "x"), ("acme pty ltd", "pty acme ltd")) ++
      (1 to 300).map(_ => (randStr(), randStr()))
    cases.foreach { case (s1, s2) =>
      val fused = K.nameRatios(s1, s2).toSeq
      val want = Seq(K.ratio(s1, s2), K.tokenSortRatio(s1, s2),
        K.tokenSetRatio(s1, s2), K.partialRatio(s1, s2))
      assert(fused == want, s"nameRatios('$s1','$s2')")
    }
  }
}
