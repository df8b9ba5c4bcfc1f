package graft

import graft.text.UnigramLm
import org.apache.spark.sql.functions._

class UnigramLmSpec extends SparkSpec {

  import spark.implicits._

  // ---------------------------------------------------------------
  // Independent reference: exhaustive enumeration of ALL segmentations
  // (pieces from the model, single-code-point fallback at UnkSu),
  // scored and argmax'd under the documented total order — written
  // against the SPEC of the operator, sharing no code with the DP.
  private def cps(w: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val c = w.codePointAt(i)
      out += new String(Character.toChars(c))
      i += Character.charCount(c)
    }
    out.result()
  }

  private def allSegs(chars: Vector[String], score: Map[String, Long],
      maxLen: Int): Seq[List[String]] =
    if (chars.isEmpty) Seq(Nil)
    else (1 to math.min(maxLen, chars.length)).flatMap { l =>
      val piece = chars.take(l).mkString
      if (score.contains(piece) || l == 1)
        allSegs(chars.drop(l), score, maxLen).map(piece :: _)
      else Seq.empty
    }

  private def bruteBest(word: String, score: Map[String, Long],
      maxLen: Int): List[String] = {
    def segScore(s: List[String]): Long =
      s.map(p => score.getOrElse(p, UnigramLm.UnkSu)).sum
    def pathBytes(s: List[String]): Array[Byte] =
      s.map("\u001F" + _).mkString.getBytes("UTF-8")
    def lessBytes(a: Array[Byte], b: Array[Byte]): Boolean = {
      var i = 0
      while (i < a.length && i < b.length) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      a.length < b.length
    }
    allSegs(cps(word), score, maxLen).minBy(identity)(Ordering.fromLessThan {
      (s1: List[String], s2: List[String]) =>
        val (a, b) = (segScore(s1), segScore(s2))
        if (a != b) a > b
        else if (s1.length != s2.length) s1.length < s2.length
        else lessBytes(pathBytes(s1), pathBytes(s2))
    })
  }

  test("Viterbi DP matches exhaustive-enumeration argmax on adversarial vocabularies") {
    // Scores engineered for ties and prefix traps: 'ab'+'ab' vs
    // 'a'+'bab', equal-score alternatives forcing the np/path breaks.
    val score = Map(
      "a" -> -300L, "b" -> -250L, "ab" -> -100L, "ba" -> -100L,
      "aba" -> -350L, "bab" -> -350L, "abab" -> -550L,
      "x" -> -200L, "xy" -> -400L, "y" -> -200L,  // xy tie: 1 piece beats 2
      "q" -> -500L)
    val words = Seq("abab", "ababab", "aabba", "xy", "xyxy", "bq", "zzz",
      "a", "b", "abba", "babab", "xyq", "qqq")
    words.foreach { w =>
      val dp = UnigramLm.segment(w, score, 3).toList
      val brute = bruteBest(w, score, 3)
      assert(dp === brute, s"word '$w': DP $dp vs brute $brute")
    }
  }

  test("unknown characters fall back per code point; astral chars segment on code-point boundaries") {
    val score = Map("ab" -> -100L, "a" -> -300L, "b" -> -250L)
    assert(UnigramLm.segment("zab", score).toList === List("z", "ab"))
    // astral 𝄞 (U+1D11E, two UTF-16 units) must stay ONE fallback piece
    val g = new String(Character.toChars(0x1D11E))
    assert(UnigramLm.segment(s"${g}ab", score).toList === List(g, "ab"))
    assert(UnigramLm.segment(g * 3, score).length === 3)
  }

  test("trains morphemes from a planted agglutinative corpus and segments along them") {
    val words = Seq("play", "walk", "jump", "look")
    val text = (words.flatMap(w => Seq.fill(20)(w)) ++
      words.flatMap(w => Seq.fill(12)(w + "ing")) ++
      words.flatMap(w => Seq.fill(12)(w + "ed"))).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val model = UnigramLm.train(spark, docs, "text",
      topK = 64, seedSize = 48, maxPieceLen = 4, emIters = 4)
    val vocab = model.filter(_.cnt > 0).map(_.piece).toSet
    assert(words.forall(vocab.contains), s"stems missing from $vocab")
    assert(vocab.contains("ing") && vocab.contains("ed"),
      s"suffixes missing from $vocab")
    val score = model.map(e => e.piece -> e.scoreU).toMap
    assert(UnigramLm.segment("playing", score, 4).toList === List("play", "ing"))
    assert(UnigramLm.segment("walked", score, 4).toList === List("walk", "ed"))
    // generalization: unseen stem+suffix combination still splits
    assert(UnigramLm.segment("jumping", score, 4).toList === List("jump", "ing"))
  }

  test("hard-EM corpus likelihood is non-decreasing across iterations") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val (model, lik) = UnigramLm.trainWithLikelihoods(spark, docs, "text",
      topK = 128, seedSize = 128, maxPieceLen = 8, emIters = 4)
    assert(model.nonEmpty && lik.length === 4)
    // slack: per-piece ln rounding error is ≤ 0.5 micro; bound by the
    // total piece count an E-step can touch (chars × freq is a cap)
    val slack = 1L * docs.select(sum(length(col("text")))).head.getLong(0)
    lik.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - slack, s"likelihood decreased: $lik")
    }
  }

  test("kernel column output matches the driver DP on every corpus word, and digest/count line up") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val model = UnigramLm.train(spark, docs, "text",
      topK = 256, seedSize = 256, maxPieceLen = 8, emIters = 3)
    val score = model.map(e => e.piece -> e.scoreU).toMap
    val b = lit(UnigramLm.blob(model))
    val kernelRows = docs
      .select(explode(graft.text.TextAnalysis.tokens(col("text"))).as("w"))
      .distinct()
      .select(col("w"),
        graft.functions.GraftFunctions.unigram_word_pieces(col("w"), b, 8).as("p"))
      .collect()
    assert(kernelRows.nonEmpty)
    kernelRows.foreach { r =>
      val w = r.getString(0)
      val driver = UnigramLm.segment(w, score, 8).toSeq
      assert(r.getSeq[String](1) === driver, s"word '$w'")
    }
    // doc-level: n_pieces equals the summed per-word driver counts
    val enc = UnigramLm.encodeDocs(docs, "text", "doc_id", model, 8)
      .orderBy("doc_id").collect()
    val expected = docs.orderBy("doc_id").collect().map { r =>
      r.getAs[String]("text").toLowerCase.split("\\s+").filter(_.nonEmpty)
        .map(w => UnigramLm.segment(w, score, 8).length.toLong).sum
    }
    assert(enc.map(_.getLong(1)).toSeq === expected.toSeq)
  }

  test("persisted model round-trips bit-identically into serving") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val path = java.nio.file.Files
      .createTempDirectory("unigram_model").toString + "/vocab"
    UnigramLm.writeModel(spark, docs, "text", topK = 128, seedSize = 128,
      maxPieceLen = 8, emIters = 2, path)
    val model = UnigramLm.train(spark, docs, "text",
      topK = 128, seedSize = 128, maxPieceLen = 8, emIters = 2)
    val loaded = UnigramLm.loadModel(spark, path)
      .sortBy(_.piece)
    assert(loaded === model.sortBy(_.piece))
    val fresh = UnigramLm.encodeDocs(docs, "text", "doc_id", model, 8)
      .orderBy("doc_id").collect().toSeq
    val served = UnigramLm.encodeFromModel(spark, docs, "text", "doc_id",
      path, 8).orderBy("doc_id").collect().toSeq
    assert(served === fresh)
  }

  test("blob memo is bounded: alternating models parse correctly and re-parse on switch-back") {
    // The executor-side blob memo holds ONE most-recent entry (r10
    // ADVICE: the unbounded map retained every model a long-lived JVM
    // ever encoded under). Correctness under model switching is what
    // matters: A → B → A must segment under the RIGHT model each time.
    val mA = Map("ab" -> -1000000L, "a" -> -3000000L, "b" -> -3000000L)
    val mB = Map("a" -> -1000000L, "b" -> -1000000L) // no "ab" piece
    def blobOf(m: Map[String, Long]): String =
      UnigramLm.blob(m.toSeq.map { case (p, s) =>
        UnigramLm.Entry(p, 1L, s) })
    assert(UnigramLm.wordPiecesBlob("ab", blobOf(mA), 8).toSeq === Seq("ab"))
    assert(UnigramLm.wordPiecesBlob("ab", blobOf(mB), 8).toSeq === Seq("a", "b"))
    assert(UnigramLm.wordPiecesBlob("ab", blobOf(mA), 8).toSeq === Seq("ab"))
    // repeated calls under one model hit the memo (same result)
    assert(UnigramLm.wordPiecesBlob("ab", blobOf(mA), 8).toSeq === Seq("ab"))
  }

  test("HF tokenizer.json round trip: scores recover exactly, serving bit-identical") {
    import graft.text.UnigramArtifacts
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val model = UnigramLm.train(spark, docs, "text",
      topK = 128, seedSize = 128, maxPieceLen = 8, emIters = 2)
    val jpath = java.nio.file.Files
      .createTempDirectory("unigram_json").toString + "/tokenizer.json"
    UnigramArtifacts.exportTokenizerJson(model, jpath)
    val loaded = UnigramArtifacts.loadTokenizerJson(jpath)
    // micro-unit scores recover EXACTLY through the double round trip
    assert(loaded.map(e => e.piece -> e.scoreU).sortBy(_._1) ===
      model.map(e => e.piece -> e.scoreU).sortBy(_._1))
    assert(UnigramArtifacts.maxPieceLen(loaded) <= 8)
    val fresh = UnigramLm.encodeDocs(docs, "text", "doc_id", model, 8)
      .orderBy("doc_id").collect().toSeq
    val served = UnigramLm.encodeDocs(docs, "text", "doc_id", loaded, 8)
      .orderBy("doc_id").collect().toSeq
    assert(served === fresh)
  }

  test("HF tokenizer.json foreign file: hand-written vocab segments as its logprobs dictate") {
    import graft.text.UnigramArtifacts
    // a vocab the engine never trained: "ab" beats "a"+"b" iff its
    // logprob exceeds the sum — both directions exercised
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def write(pairs: Seq[(String, Double)]): String = {
      val root = mapper.createObjectNode()
      val m = mapper.createObjectNode()
      m.put("type", "Unigram")
      val vocab = mapper.createArrayNode()
      pairs.foreach { case (p, lp) =>
        val pair = mapper.createArrayNode()
        pair.add(p); pair.add(lp); vocab.add(pair)
      }
      m.set[com.fasterxml.jackson.databind.JsonNode]("vocab", vocab)
      root.set[com.fasterxml.jackson.databind.JsonNode]("model", m)
      val f = java.nio.file.Files
        .createTempDirectory("foreign_json").toString + "/tokenizer.json"
      java.nio.file.Files.write(java.nio.file.Paths.get(f),
        mapper.writeValueAsBytes(root))
      f
    }
    val whole = UnigramArtifacts.loadTokenizerJson(
      write(Seq("ab" -> -1.0, "a" -> -2.0, "b" -> -2.0)))
    assert(UnigramLm.segment("ab",
      whole.map(e => e.piece -> e.scoreU).toMap, 8).toSeq === Seq("ab"))
    val split = UnigramArtifacts.loadTokenizerJson(
      write(Seq("ab" -> -5.0, "a" -> -2.0, "b" -> -2.0)))
    assert(UnigramLm.segment("ab",
      split.map(e => e.piece -> e.scoreU).toMap, 8).toSeq === Seq("a", "b"))
    // a non-Unigram model type refuses instead of mis-serving
    val bpePath = write(Seq("x" -> -1.0)).replace("tokenizer", "t2")
    val root = mapper.createObjectNode()
    val m2 = mapper.createObjectNode(); m2.put("type", "BPE")
    root.set[com.fasterxml.jackson.databind.JsonNode]("model", m2)
    java.nio.file.Files.write(java.nio.file.Paths.get(bpePath),
      mapper.writeValueAsBytes(root))
    val e = intercept[IllegalArgumentException] {
      UnigramArtifacts.loadTokenizerJson(bpePath)
    }
    assert(e.getMessage.contains("Unigram"))
  }

  test("single-code-point coverage pieces survive pruning at floor score") {
    val docs = Seq((1L, "aaa aaa aaa bca")).toDF("doc_id", "text")
    val model = UnigramLm.train(spark, docs, "text",
      topK = 8, seedSize = 8, maxPieceLen = 3, emIters = 3)
    val byPiece = model.map(e => e.piece -> e).toMap
    // every sampled character stays in the vocab
    assert(Seq("a", "b", "c").forall(byPiece.contains))
    // floored chars carry cnt 0 and the documented floor score
    model.filter(_.cnt == 0L).foreach(e =>
      assert(e.scoreU === UnigramLm.UnkSu, s"$e"))
  }
}
