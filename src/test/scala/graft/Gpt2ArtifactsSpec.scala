package graft

import java.nio.file.{Files, Paths}

import graft.text.{Bpe, Gpt2Artifacts}
import graft.text.Bpe.Merge

/** GPT-2 tokenizer artifact interop: alphabet bijection, file formats,
  * export→load round trip (bit-identical serving), and honoring a
  * published file's own id assignment. */
class Gpt2ArtifactsSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"${sf()}/documents.parquet")

  private def tmp(tag: String): String = {
    val d = Files.createTempDirectory(s"gpt2-$tag").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("byte↔unicode alphabet is the GPT-2 bijection") {
    assert(Gpt2Artifacts.byteToUni.distinct.length == 256)
    // printable latin bytes map to themselves
    assert(Gpt2Artifacts.byteToUni('A'.toInt) == 'A')
    assert(Gpt2Artifacts.byteToUni('~'.toInt) == '~')
    // space is remapped out of the printable range (the vocab.bpe
    // separator stays unambiguous); GPT-2 maps 0x20 → U+0120 'Ġ'
    assert(Gpt2Artifacts.byteToUni(0x20) == 'Ġ')
    assert(Gpt2Artifacts.byteToUni(0x0A) == 'Ċ')
    (0 until 256).foreach { b =>
      assert(Gpt2Artifacts.uniToByte(Gpt2Artifacts.byteToUni(b)) == b)
    }
    // symbol conversion round-trips
    for (sym <- Seq("41", "2041", "E4B8AD", "F09D849E", "0A0D")) {
      assert(Gpt2Artifacts.gpt2ToSym(Gpt2Artifacts.symToGpt2(sym))
        .contains(sym))
    }
  }

  test("export writes the interchange formats; load round-trips merges and ids") {
    val merges = Bpe.trainBytes(Bpe.pretokenSample(docs, "text", 256), 24)
    val dir = tmp("roundtrip")
    Gpt2Artifacts.export(merges, dir)

    val bpeLines = new String(Files.readAllBytes(
      Paths.get(dir, "vocab.bpe")), "UTF-8").split("\n")
    assert(bpeLines.head == "#version: 0.2")
    assert(bpeLines.length == merges.size + 1)
    assert(bpeLines.tail.forall(_.count(_ == ' ') == 1))

    val m = Gpt2Artifacts.load(dir)
    assert(m.merges.map(x => (x.rank, x.left, x.right)) ==
      merges.map(x => (x.rank, x.left, x.right)))
    assert(m.symToId == Bpe.byteVocab(merges).map(_.swap).toMap)
  }

  test("'#'-leading merge lines round-trip: only the #version header is skipped") {
    // '#' is byte 0x23 of the GPT-2 alphabet, so real published
    // vocab.bpe files contain merge lines starting with '#' (GPT-2's
    // own file has '# #' — the '##' token). A blanket '#'-prefix
    // filter would silently drop them and shift every later rank
    // (round-14 advice).
    val merges = Seq(Merge(0, "23", "23", 0L), Merge(1, "2323", "23", 0L),
      Merge(2, "61", "62", 0L))
    val dir = tmp("hash")
    Gpt2Artifacts.export(merges, dir)
    val lines = new String(Files.readAllBytes(
      Paths.get(dir, "vocab.bpe")), "UTF-8").split("\n")
    assert(lines.head == "#version: 0.2")
    assert(lines(1) == "# #" && lines(2) == "## #")
    val m = Gpt2Artifacts.load(dir)
    assert(m.merges.map(x => (x.rank, x.left, x.right)) ==
      merges.map(x => (x.rank, x.left, x.right)))
    // the loaded table actually serves the '#' merges: '###' is one token
    assert(Bpe.encodeWordBytesKernel("###", m.merges).toSeq == Seq("232323"))
    val blob = Bpe.mergeBlobWithIds(m.merges, m.symToId)
    assert(Bpe.wordByteIdsBlob("###", blob, blob).toSeq == Seq(257L))
  }

  test("loaded model serves bit-identically to the trained one (ids path)") {
    val merges = Bpe.trainBytes(Bpe.pretokenSample(docs, "text", 256), 24)
    val dir = tmp("serve")
    Gpt2Artifacts.export(merges, dir)
    val loaded = Gpt2Artifacts.load(dir)
    val direct = Bpe.encodeDocsBytesPretokIds(docs, "text",
      "doc_id", merges).orderBy("doc_id").collect()
    val viaFiles = Gpt2Artifacts.encodeDocsIds(docs, "text", "doc_id",
      loaded).orderBy("doc_id").collect()
    assert(direct.length == viaFiles.length && direct.length > 0)
    direct.zip(viaFiles).foreach { case (a, b) => assert(a == b) }
  }

  test("a published file's FOREIGN id assignment is honored (not re-derived)") {
    val merges = Bpe.trainBytes(Bpe.pretokenSample(docs, "text", 256), 8)
    val dir = tmp("foreign")
    Gpt2Artifacts.export(merges, dir)
    // rewrite encoder.json with ids shifted by 1000 + a special token
    // (which load must skip, documented out of scope)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tree = mapper.readTree(Files.readAllBytes(
      Paths.get(dir, "encoder.json")))
    val obj = new java.util.LinkedHashMap[String, java.lang.Long]()
    val it = tree.fields()
    while (it.hasNext) {
      val e = it.next()
      obj.put(e.getKey, e.getValue.asLong() + 1000L)
    }
    obj.put("<|endoftext|>", 999999L)
    Files.write(Paths.get(dir, "encoder.json"), mapper.writeValueAsBytes(obj))

    val loaded = Gpt2Artifacts.load(dir)
    assert(loaded.symToId.values.forall(_ >= 1000L))
    assert(!loaded.symToId.contains("<|endoftext|>"))
    // served ids reflect the file's assignment: equal counts, shifted
    // digests ≠ the byteVocab path
    val viaFiles = Gpt2Artifacts.encodeDocsIds(docs, "text", "doc_id",
      loaded).orderBy("doc_id").collect()
    val direct = Bpe.encodeDocsBytesPretokIds(docs, "text",
      "doc_id", merges).orderBy("doc_id").collect()
    viaFiles.zip(direct).foreach { case (f, d) =>
      assert(f.getLong(1) == d.getLong(1)) // same token counts
    }
    assert(viaFiles.map(_.getString(2)).toSeq !=
      direct.map(_.getString(2)).toSeq) // different ids
  }

  test("tokenizer.json round-trips and serves bit-identically; pair-shaped merges load too") {
    val merges = Bpe.trainBytes(Bpe.pretokenSample(docs, "text", 256), 24)
    val dir = tmp("hfjson")
    val jpath = s"$dir/tokenizer.json"
    Gpt2Artifacts.exportTokenizerJson(merges, jpath)
    val m = Gpt2Artifacts.loadTokenizerJson(jpath)
    assert(m.merges.map(x => (x.rank, x.left, x.right)) ==
      merges.map(x => (x.rank, x.left, x.right)))
    assert(m.symToId == Bpe.byteVocab(merges).map(_.swap).toMap)
    val direct = Bpe.encodeDocsBytesPretokIds(docs, "text",
      "doc_id", merges).orderBy("doc_id").collect()
    val viaJson = Gpt2Artifacts.encodeDocsIds(docs, "text", "doc_id", m)
      .orderBy("doc_id").collect()
    direct.zip(viaJson).foreach { case (a, b) => assert(a == b) }
    // newer HF files ship merges as ["l","r"] PAIRS — rewrite and reload
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(jpath)))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val model = root.get("model")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val pairs = mapper.createArrayNode()
    val it = model.get("merges").elements()
    while (it.hasNext) {
      val t = it.next().asText()
      val sp = t.indexOf(' ')
      val pair = mapper.createArrayNode()
      pair.add(t.substring(0, sp)); pair.add(t.substring(sp + 1))
      pairs.add(pair)
    }
    model.set[com.fasterxml.jackson.databind.JsonNode]("merges", pairs)
    java.nio.file.Files.write(java.nio.file.Paths.get(jpath),
      mapper.writeValueAsBytes(root))
    val m2 = Gpt2Artifacts.loadTokenizerJson(jpath)
    assert(m2.merges == m.merges && m2.symToId == m.symToId)
  }

  test("special tokens round-trip through tokenizer.json and split-first on encode") {
    val merges = Bpe.trainBytes(Bpe.pretokenSample(docs, "text", 256), 24)
    val jpath = tmp("specials") + "/tokenizer.json"
    Gpt2Artifacts.exportTokenizerJson(merges, jpath,
      specials = Seq("<|endoftext|>"))
    val m = Gpt2Artifacts.loadTokenizerJson(jpath)
    val eot = 256L + merges.size
    assert(m.specials == Seq("<|endoftext|>" -> eot))
    val blob = Bpe.mergeBlobWithSpecials(m.merges, m.symToId, m.specials)
    val flat = Bpe.mergeBlobWithIds(m.merges, m.symToId)
    // independent expectation: split on the special by hand, pretokenize
    // each segment with the same public regex, encode word by word
    def expected(text: String): Seq[Long] = {
      val parts = text.split(java.util.regex.Pattern.quote("<|endoftext|>"), -1)
      val p = java.util.regex.Pattern.compile(Bpe.Gpt2Pretok)
      parts.zipWithIndex.flatMap { case (seg, i) =>
        val segIds = {
          val mt = p.matcher(seg)
          val b = Seq.newBuilder[Long]
          while (mt.find()) b ++= Bpe.wordByteIdsBlob(mt.group(), flat, flat)
          b.result()
        }
        if (i < parts.length - 1) segIds :+ eot else segIds
      }.toSeq
    }
    // adjacency torture: specials against contractions, whitespace,
    // string start/end, back-to-back specials, empty text
    val cases = Seq(
      "he's ok<|endoftext|>'s next",
      "<|endoftext|>leading",
      "trailing<|endoftext|>",
      "a <|endoftext|> b",
      "two<|endoftext|><|endoftext|>in a row",
      "  <|endoftext|>'ll we go",
      "<|endoftext|>",
      "",
      "no specials at all")
    cases.foreach { t =>
      val ids = Bpe.textIdsBlob(t, blob, blob).toSeq
      assert(ids == expected(t), s"text '$t'")
      // decode inverts the stream under the loaded model, specials
      // emitted verbatim — byte-exact round trip
      assert(Gpt2Artifacts.decodeIds(ids, m) == t, s"decode of '$t'")
    }
    // encodeDocsIds serves every row of a frame the same way: (count,
    // md5 of the space-joined ids) of the expectation
    def assertServed(frame: org.apache.spark.sql.DataFrame,
        model: Gpt2Artifacts.Model): Unit = {
      val served = Gpt2Artifacts.encodeDocsIds(frame, "text", "doc_id", model)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
        .toMap
      val texts = frame.select("doc_id", "text").collect()
      assert(texts.nonEmpty && served.size == texts.length)
      texts.foreach { r =>
        val ids = expected(r.getString(1))
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(ids.mkString(" ")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map("%02x".format(_)).mkString
        assert(served(r.getLong(0)) == ((ids.length.toLong, hex)),
          s"doc ${r.getLong(0)}")
      }
    }
    // the loaded model's specials split first in the frame path too
    val s = spark
    import s.implicits._
    assertServed(cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text"), m)
    // a model WITHOUT specials degrades to the plain pretok-id stream:
    // each whole document is one segment of the expectation
    assertServed(docs, Gpt2Artifacts.Model(m.merges, m.symToId))
  }

  test("special tokens: longest match wins at the same position") {
    import Bpe.Merge
    val merges = Seq(Merge(0, "61", "62", 0L))
    val ids = Bpe.byteVocab(merges).map(_.swap).toMap
    val specials = Seq("[X]" -> 500L, "[X][Y]" -> 501L, "[Y]" -> 502L)
    val blob = Bpe.mergeBlobWithSpecials(merges, ids, specials)
    def enc(t: String) = Bpe.textIdsBlob(t, blob, blob).toSeq
    // "[X][Y]" is matched as ONE special (longest-first), not [X]+[Y]
    assert(enc("[X][Y]") == Seq(501L))
    // a lone [X] still matches, and a non-composable tail falls through
    // to plain byte encoding
    assert(enc("[X][Z]") == 500L +: enc("[Z]"))
    // leftmost-LONGEST: after [Y] at 0, position 3 matches the full
    // [X][Y] — the longer special wins there too
    assert(enc("[Y][X][Y]") == Seq(502L, 501L))
    // but a LEFTMOST shorter match beats a longer one further right
    assert(enc("[X]z[X][Y]") == Seq(500L) ++ enc("z") ++ Seq(501L))
  }

  test("GPT-2 two-file format: caller-named specials resolve ids from encoder.json") {
    val merges = Bpe.trainBytes(Bpe.pretokenSample(docs, "text", 256), 24)
    val dir = tmp("gpt2spec")
    Gpt2Artifacts.export(merges, dir, specials = Seq("<|endoftext|>"))
    val m = Gpt2Artifacts.load(dir, Seq("<|endoftext|>"))
    assert(m.specials == Seq("<|endoftext|>" -> (256L + merges.size)))
    // naming a special the file does not carry refuses
    intercept[IllegalArgumentException] {
      Gpt2Artifacts.load(dir, Seq("<|missing|>"))
    }
    // unnamed specials load as before (back-compat)
    assert(Gpt2Artifacts.load(dir).specials.isEmpty)
  }

  test("interop at production size: 32k-merge table round-trips") {
    var state = 99172645463325252L
    def next(): Int = {
      state ^= state << 13; state ^= state >>> 7; state ^= state << 17
      ((state >>> 33) % 26).toInt
    }
    val sample = (0 until 13000).map { i =>
      (new String(Array.fill(9)(('a' + next()).toChar)), 1L + (i % 5))
    }.distinct.groupBy(_._1).map { case (w, g) => (w, g.head._2) }
      .toSeq.sortBy(_._1)
    val merges = Bpe.trainBytes(sample, 32768)
    assert(merges.size == 32768)
    val dir = tmp("big")
    Gpt2Artifacts.export(merges, dir)
    val loaded = Gpt2Artifacts.load(dir)
    assert(loaded.merges.size == 32768)
    assert(loaded.merges.map(m => (m.left, m.right)) ==
      merges.map(m => (m.left, m.right)))
    // kernel-serve a few words under the loaded table ≡ original
    val blobA = Bpe.mergeBlob(merges)
    val blobB = Bpe.mergeBlobWithIds(loaded.merges, loaded.symToId)
    for (w <- sample.take(50).map(_._1) ++ Seq("zqzq", "", "é𝄞")) {
      val a = Bpe.applySequential(
        Bpe.encodeWordBytesKernel(w, Seq.empty) /* byte symbols */,
        Bpe.modelForBlob(blobA, blobA))
      val b = Bpe.applySequential(
        Bpe.encodeWordBytesKernel(w, Seq.empty),
        Bpe.modelForBlob(blobB, blobB))
      assert(a.toSeq == b.toSeq, s"word '$w'")
    }
  }
}
