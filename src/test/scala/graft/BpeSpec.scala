package graft

import graft.text.Bpe
import graft.text.Bpe.Merge
import org.apache.spark.sql.functions._

/** BPE merge learning: hand-computed merge sequences, overlap and
  * tie-break rules, early stop, and engine/driver encode parity. */
class BpeSpec extends SparkSpec {

  test("merges learned by hand: frequency-weighted pairs, chained merges, early stop") {
    // ab ×5, abc ×3 → (a,b)=8 wins; then (ab,c)=3; then nothing left
    val merges = Bpe.train(Seq(("ab", 5L), ("abc", 3L)), numMerges = 5)
    assert(merges.map(m => (m.rank, m.left, m.right, m.pairCount)) ==
      Seq((0, "a", "b", 8L), (1, "ab", "c", 3L)))
  }

  test("tie on count breaks to the lexicographically smallest pair") {
    val merges = Bpe.train(Seq(("cd", 2L), ("ab", 2L)), numMerges = 1)
    assert(merges.head.left == "a" && merges.head.right == "b")
  }

  test("overlapping occurrences count per position but merge leftmost non-overlapping") {
    // "aaa": pair (a,a) occurs at 2 positions → count 2; merging yields
    // symbols [aa, a], and the next round merges (aa, a)
    val merges = Bpe.train(Seq(("aaa", 1L)), numMerges = 2)
    assert(merges.map(m => (m.left, m.right, m.pairCount)) ==
      Seq(("a", "a", 2L), ("aa", "a", 1L)))
    assert(Bpe.encodeWord("aaa", merges.take(1)).toSeq == Seq("aa", "a"))
    // classic non-overlapping leftmost semantics (Sennrich's re.sub):
    // even runs pair up fully, odd runs leave the LAST symbol unpaired
    assert(Bpe.encodeWord("aaaa", merges.take(1)).toSeq == Seq("aa", "aa"))
    assert(Bpe.encodeWord("aaaaa", merges.take(1)).toSeq ==
      Seq("aa", "aa", "a"))
    assert(Bpe.encodeWord("aaa", merges).toSeq == Seq("aaa"))
  }

  test("encodeWord applies merges in rank order") {
    val merges = Seq(Merge(0, "l", "o", 9L), Merge(1, "lo", "w", 7L))
    assert(Bpe.encodeWord("low", merges).toSeq == Seq("low"))
    assert(Bpe.encodeWord("slow", merges).toSeq == Seq("s", "low"))
    assert(Bpe.encodeWord("owl", merges).toSeq == Seq("o", "w", "l"))
  }

  test("engine encode matches the driver reference on every testdata document") {
    val docs = Demo.table(spark, sf(), "documents")
    val merges = Bpe.train(Bpe.wordSample(docs, "text", 256), 24)
    assert(merges.length == 24)
    val engine = Bpe.encodeDocs(docs, "text", "doc_id", merges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    texts.foreach { case (id, text) =>
      val words = text.toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").filter(_.nonEmpty)
      val syms = words.flatMap(w => Bpe.encodeWord(w, merges))
      val hex = md.digest(syms.mkString(" ")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
      assert(engine(id) == ((syms.length.toLong, hex)), s"doc $id")
    }
  }

  test("merges compress the corpus: BPE token count strictly below character count, above word count") {
    val docs = Demo.table(spark, sf(), "documents")
    val merges = Bpe.train(Bpe.wordSample(docs, "text", 256), 24)
    val enc = Bpe.encodeDocs(docs, "text", "doc_id", merges)
      .agg(sum("n_bpe_tokens")).collect()(0).getLong(0)
    val bounds = docs.select(
      sum(size(graft.text.TextAnalysis.tokens(col("text")))).cast("long"),
      sum(length(regexp_replace(col("text"), "\\s+", ""))).cast("long"))
      .collect()(0)
    val (nWords, nChars) = (bounds.getLong(0), bounds.getLong(1))
    assert(enc < nChars, s"enc=$enc chars=$nChars")
    assert(enc >= nWords, s"enc=$enc words=$nWords")
  }

  test("property: train matches an independent list-based reference on random corpora") {
    // independent implementation: explicit symbol LISTS and a
    // left-to-right non-overlapping merge scan — no string
    // representation shared with the engine (this formulation catches
    // representation bugs like the session's shared-separator flaw)
    def naiveTrain(sample: Seq[(String, Long)], numMerges: Int): Seq[Merge] = {
      var vocab = sample.map { case (w, f) => (w.map(_.toString).toList, f) }
      val out = Seq.newBuilder[Merge]
      var k = 0
      var stop = false
      while (k < numMerges && !stop) {
        val counts = scala.collection.mutable.HashMap
          .empty[(String, String), Long]
        vocab.foreach { case (syms, f) =>
          syms.zip(syms.drop(1)).foreach { p =>
            counts.update(p, counts.getOrElse(p, 0L) + f)
          }
        }
        if (counts.isEmpty) stop = true
        else {
          val ((l, r), c) = counts.minBy { case ((a, b), n) => (-n, a, b) }
          out += Merge(k, l, r, c)
          vocab = vocab.map { case (syms, f) =>
            val m = scala.collection.mutable.ListBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
                m += (l + r); i += 2
              } else { m += syms(i); i += 1 }
            }
            (m.toList, f)
          }
          k += 1
        }
      }
      out.result()
    }
    val rnd = new scala.util.Random(42)
    (1 to 40).foreach { trial =>
      val words = Seq.fill(rnd.nextInt(8) + 2) {
        val len = rnd.nextInt(6) + 1
        (Seq.fill(len)(('a' + rnd.nextInt(3)).toChar).mkString,
          rnd.nextInt(5) + 1L)
      }
      val sample = words.groupBy(_._1).view
        .mapValues(_.map(_._2).sum).toSeq
      val fast = Bpe.train(sample, 6)
      val slow = naiveTrain(sample, 6)
      assert(fast == slow, s"trial $trial sample=$sample")
      // and the encoder agrees with the naive merge scan per word
      sample.foreach { case (w, _) =>
        var syms = w.map(_.toString).toList
        fast.foreach { m =>
          val out = scala.collection.mutable.ListBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == m.left &&
              syms(i + 1) == m.right) { out += (m.left + m.right); i += 2 }
            else { out += syms(i); i += 1 }
          }
          syms = out.toList
        }
        assert(Bpe.encodeWord(w, fast).toSeq == syms, s"trial $trial word=$w")
      }
    }
  }

  test("astral (non-BMP) characters are single symbols; engine matches driver") {
    val s = spark
    import s.implicits._
    // 𝄞 (U+1D11E) is a surrogate pair in UTF-16: a char-level seal would
    // split it into two symbols, the engine's per-codepoint regex doesn't
    assert(Bpe.encodeWord("a𝄞b", Nil).toSeq == Seq("a", "𝄞", "b"))
    val docs = Seq((1L, "a𝄞b a𝄞b x𝄞")).toDF("doc_id", "text")
    val merges = Bpe.train(Bpe.wordSample(docs, "text", 10), 2)
    // (a,𝄞) has corpus count 2, beats (𝄞,b)=2? tie → byte order:
    // 'a' (0x61) < '𝄞' (0xF0...) → (a,𝄞) first; then (a𝄞,b)=2 wins
    assert(merges.head.left == "a" && merges.head.right == "𝄞")
    val engine = Bpe.encodeDocs(docs, "text", "doc_id", merges)
      .collect().map(r => (r.getLong(1), r.getString(2))).head
    val md = java.security.MessageDigest.getInstance("MD5")
    val words = Seq("a𝄞b", "a𝄞b", "x𝄞")
    val syms = words.flatMap(w => Bpe.encodeWord(w, merges))
    val hex = md.digest(syms.mkString(" ")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    assert(engine == ((syms.length.toLong, hex)))
  }

  test("line terminators outside \\s (U+0085/U+2028/U+2029) seal like any other char; engine matches driver") {
    val s = spark
    import s.implicits._
    // Java \s lacks these three, so the whitespace tokenizer leaves them
    // INSIDE words; the engine seal is DOTALL (Java '.' would otherwise
    // skip them, leaving the word partially unsealed and the merge fold
    // producing garbage symbols that diverge from the driver).
    for (t <- Seq('\u0085', '\u2028', '\u2029')) {
      val w = s"ab${t}ab"
      assert(Bpe.encodeWord(w, Nil).toSeq ==
        Seq("a", "b", t.toString, "a", "b"))
      val docs = Seq((1L, s"$w $w ab")).toDF("doc_id", "text")
      val merges = Bpe.train(Bpe.wordSample(docs, "text", 10), 2)
      val engine = Bpe.encodeDocs(docs, "text", "doc_id", merges)
        .collect().map(r => (r.getLong(1), r.getString(2))).head
      val words = Seq(w, w, "ab")
      val syms = words.flatMap(x => Bpe.encodeWord(x, merges))
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(syms.mkString(" ")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
      assert(engine == ((syms.length.toLong, hex)),
        s"engine/driver divergence on U+${t.toInt.toHexString}")
    }
  }

  test("persisted merge model round-trips and serves bit-identical encodings") {
    val docs = Demo.table(spark, sf(), "documents")
    val trained = Bpe.train(Bpe.wordSample(docs, "text", 64), 12)
    val path = java.nio.file.Files
      .createTempDirectory("bpe-model").toString + "/merges"
    Bpe.writeMerges(spark, docs, "text", numMerges = 12, topK = 64, path)
    assert(Bpe.loadMerges(spark, path) == trained)
    val fresh = Bpe.encodeDocs(docs, "text", "doc_id", trained)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val served = Bpe.encodeFromModel(spark, docs, "text", "doc_id", path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(served == fresh)
  }

  test("training sample is bounded and deterministic under repartitioning") {
    val docs = Demo.table(spark, sf(), "documents")
    val a = Bpe.wordSample(docs, "text", 50)
    val b = Bpe.wordSample(docs.repartition(13), "text", 50)
    assert(a == b && a.length <= 50)
    // frequency-descending with word tie-break
    assert(a.zip(a.tail).forall { case ((w1, f1), (w2, f2)) =>
      f1 > f2 || (f1 == f2 && w1 < w2) })
  }

  // -------------------------------------------------- byte-level BPE

  test("byte merges learned by hand over hex byte-pair symbols") {
    // same corpus as the char hand-test: ab ×5, abc ×3 — the byte
    // alphabet sees 'a'=61 'b'=62 'c'=63, so (61,62)=8 then (6162,63)=3
    val merges = Bpe.trainBytes(Seq(("ab", 5L), ("abc", 3L)), 5)
    assert(merges.map(m => (m.rank, m.left, m.right, m.pairCount)) ==
      Seq((0, "61", "62", 8L), (1, "6162", "63", 3L)))
  }

  test("byte merges form inside multi-byte characters") {
    // ß is C3 9F in UTF-8: "ßß" seals to [C3, 9F, C3, 9F] — pair
    // (C3,9F) counts 2 (vs (9F,C3) at 1), merges first, and the second
    // merge joins the two completed characters
    val merges = Bpe.trainBytes(Seq(("ßß", 1L)), 3)
    assert(merges.map(m => (m.left, m.right, m.pairCount)) ==
      Seq(("C3", "9F", 2L), ("C39F", "C39F", 1L)))
    assert(Bpe.encodeWordBytes("ßß", merges).toSeq == Seq("C39FC39F"))
    assert(Bpe.decodeByteSymbols(Seq("C39FC39F")) == "ßß")
  }

  test("byte encoding round-trips non-ASCII and astral text byte-exactly (no unk)") {
    val words = Seq("hello", "schön", "日本語テキスト", "a𝄞b", "🌍🌎🌏",
      "mixé-日本x", "ß", "�")
    // under NO merges (pure byte alphabet) and under merges trained on
    // an unrelated corpus — decode(encode(w)) == w always: every byte
    // is in the alphabet by construction
    val trained = Bpe.trainBytes(
      Seq(("the", 50L), ("quick", 20L), ("日本", 9L)), 8)
    for (w <- words; m <- Seq(Nil, trained)) {
      assert(Bpe.decodeByteSymbols(
        Bpe.encodeWordBytes(w, m).toSeq) == w,
        s"round-trip failed for '$w' with ${m.length} merges")
    }
    // the pure-byte seal of an astral char is its 4 UTF-8 bytes
    assert(Bpe.encodeWordBytes("𝄞", Nil).toSeq ==
      Seq("F0", "9D", "84", "9E"))
  }

  test("engine byte encode matches the driver reference on every testdata document") {
    val docs = Demo.table(spark, sf(), "documents")
    val merges = Bpe.trainBytes(Bpe.wordSample(docs, "text", 256), 24)
    assert(merges.length == 24)
    val engine = Bpe.encodeDocsBytes(docs, "text", "doc_id", merges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    texts.foreach { case (id, text) =>
      val words = text.toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").filter(_.nonEmpty)
      val syms = words.flatMap(w => Bpe.encodeWordBytes(w, merges))
      val hex = md.digest(syms.mkString(" ")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
      assert(engine(id) == ((syms.length.toLong, hex)), s"doc $id")
    }
  }

  test("engine byte encode matches driver on non-ASCII words (hex seal parity)") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "schön schön 日本 a𝄞b über schön 日本"))
      .toDF("doc_id", "text")
    val merges = Bpe.trainBytes(Bpe.wordSample(docs, "text", 10), 6)
    val engine = Bpe.encodeDocsBytes(docs, "text", "doc_id", merges)
      .collect().map(r => (r.getLong(1), r.getString(2))).head
    val words = Seq("schön", "schön", "日本", "a𝄞b", "über", "schön", "日本")
    val syms = words.flatMap(w => Bpe.encodeWordBytes(w, merges))
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(syms.mkString(" ")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    assert(engine == ((syms.length.toLong, hex)))
    // and every symbol stream decodes back to its word
    words.distinct.foreach { w =>
      assert(Bpe.decodeByteSymbols(
        Bpe.encodeWordBytes(w, merges).toSeq) == w)
    }
  }

  test("persisted byte-merge model round-trips and serves bit-identical encodings") {
    val docs = Demo.table(spark, sf(), "documents")
    val trained = Bpe.trainBytes(Bpe.wordSample(docs, "text", 64), 12)
    val path = java.nio.file.Files
      .createTempDirectory("bpe-byte-model").toString + "/merges"
    Bpe.writeByteMerges(spark, docs, "text", numMerges = 12, topK = 64, path)
    assert(Bpe.loadMerges(spark, path) == trained)
    val fresh = Bpe.encodeDocsBytes(docs, "text", "doc_id", trained)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val served = Bpe.encodeBytesFromModel(spark, docs, "text", "doc_id", path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(served == fresh)
  }

  private def pretokensOf(texts: String*): Seq[Seq[String]] = {
    val s = spark
    import s.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), Bpe.pretokens(col("text")).as("p"))
      .orderBy("doc_id")
      .collect().map(_.getSeq[String](1).toSeq).toSeq
  }

  test("GPT-2 pretokenization: hand cases — space carrying, whitespace donation, tab edges, contractions") {
    val got = pretokensOf(
      "hello world",
      "a   b",            // 3-space run donates its last space
      "\ttab",            // tab cannot attach (` ?` is literal space)
      " \t mix",          // mixed run backtracks one space
      "x  \t y",
      "it's 42 dogs!!",   // contraction + digit + punct runs
      "trail   ",         // trailing run stays whole
      "héllo  wörld",     // non-ASCII letters are \p{L}
      "a \tb",            // donated char is a tab: stands alone
      "  leading")
    assert(got === Seq(
      Seq("hello", " world"),
      Seq("a", "  ", " b"),
      Seq("\t", "tab"),
      Seq(" \t", " mix"),
      Seq("x", "  \t", " y"),
      Seq("it", "'s", " 42", " dogs", "!!"),
      Seq("trail", "   "),
      Seq("héllo", " ", " wörld"),
      Seq("a", " ", "\t", "b"),
      Seq(" ", " leading")))
    // totality: the pretokens concatenate back to the input
    val texts = Seq("hello world", "a   b", " \t mix", "it's 42 dogs!!",
      "héllo  wörld 日本 𝄞!")
    pretokensOf(texts: _*).zip(texts).foreach { case (p, t) =>
      assert(p.mkString === t, s"pretokens not total for '$t'")
    }
  }

  test("pretokenized byte encoding round-trips whole documents byte-exactly") {
    val text = "It's  the  2nd test — schön,\t日本語 a𝄞b!!  "
    val merges = Bpe.trainBytes(
      Seq((" the", 9L), ("It", 3L), (" schön", 2L)), 10)
    val pretoks = pretokensOf(text).head
    val syms = pretoks.flatMap(w => Bpe.encodeWordBytes(w, merges))
    assert(Bpe.decodeByteSymbols(syms) === text)
  }

  test("pretok trainer learns SPACE-CARRYING symbols (the GPT-2 vocab property)") {
    // " the" is the dominant pretoken; with enough merges it becomes
    // ONE symbol whose first byte is 0x20 — the word-boundary-aware
    // vocab entry the whitespace tokenizer can never learn
    val merges = Bpe.trainBytes(Seq((" the", 10L), ("x", 1L)), 3)
    assert(Bpe.encodeWordBytes(" the", merges).toSeq === Seq("20746865"))
    assert(Bpe.decodeByteSymbols(Seq("20746865")) === " the")
  }

  test("byteVocab: GPT-2 id assignment is total; engine id stream matches the driver") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "the cat the dog"), (2L, ""), (3L, "日本 the"))
      .toDF("doc_id", "text")
    val merges = Bpe.trainBytes(Bpe.pretokenSample(docs, "text", 64), 8)
    val vocab = Bpe.byteVocab(merges)
    // 256 base ids + one per merge, gap-free from 0
    assert(vocab.size === 256 + merges.length)
    assert(vocab.map(_._1) === (0L until vocab.size.toLong))
    assert(vocab.take(256).map(_._2) ===
      (0 until 256).map(b => f"$b%02X"))
    // every symbol any encode produces has an id (totality)
    val symToId = vocab.map(_.swap).toMap
    val pat = java.util.regex.Pattern.compile(Bpe.Gpt2Pretok)
    val md = java.security.MessageDigest.getInstance("MD5")
    val engine = Bpe.encodeDocsBytesPretokIds(docs, "text", "doc_id", merges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    Seq((1L, "the cat the dog"), (2L, ""), (3L, "日本 the")).foreach {
      case (id, text) =>
        val m = pat.matcher(text)
        val words = Iterator.continually(m.find()).takeWhile(identity)
          .map(_ => m.group()).toSeq
        val ids = words.flatMap(w => Bpe.encodeWordBytes(w, merges))
          .map(symToId)
        val hex = md.digest(ids.mkString(" ")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map("%02x".format(_)).mkString
        assert(engine(id) === ((ids.length.toLong, hex)), s"doc $id")
    }
  }

  test("engine pretok byte encode matches a driver java.util.regex reference on testdata") {
    val docs = Demo.table(spark, sf(), "documents")
    val merges = Bpe.trainBytes(Bpe.pretokenSample(docs, "text", 256), 24)
    assert(merges.length == 24)
    val engine = Bpe.encodeDocsBytesPretok(docs, "text", "doc_id", merges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val pat = java.util.regex.Pattern.compile(Bpe.Gpt2Pretok)
    val md = java.security.MessageDigest.getInstance("MD5")
    texts.foreach { case (id, text) =>
      val m = pat.matcher(text)
      val words = Iterator.continually(m.find()).takeWhile(identity)
        .map(_ => m.group()).filter(w =>
          !w.contains(Bpe.Open) && !w.contains(Bpe.Close)).toSeq
      val syms = words.flatMap(w => Bpe.encodeWordBytes(w, merges))
      val hex = md.digest(syms.mkString(" ")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
      assert(engine(id) == ((syms.length.toLong, hex)), s"doc $id")
    }
  }
}
