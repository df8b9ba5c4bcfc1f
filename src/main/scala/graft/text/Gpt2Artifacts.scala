package graft.text

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.text.Bpe.Merge
import org.apache.spark.sql.DataFrame

/**
 * GPT-2 tokenizer ARTIFACT INTEROP (round-14 verdict ask #4): export a
 * trained byte-BPE model in the interchange form a training stack
 * consumes — `vocab.bpe` (merge list) + `encoder.json` (token → id) —
 * and load such artifacts back for serving. The formats are the ones
 * `gpt2/encoder.py` ships (Radford et al. 2019); symbols are rendered
 * in GPT-2's byte→unicode alphabet (`bytes_to_unicode`: the printable
 * latin bytes map to themselves, every other byte to U+0100+n), so the
 * files are line-oriented text with NO raw control bytes and the
 * `left right` split of `vocab.bpe` is unambiguous (0x20 maps to Ġ).
 *
 * Internally symbols stay in the repo's hex-pair alphabet; conversion
 * happens only at the file boundary. A LOADED model carries its own
 * symbol→id map (a published tokenizer's id assignment differs from
 * [[Bpe.byteVocab]]'s byte-ordered one), transported into the serving
 * kernel via [[Bpe.mergeBlobWithIds]] — `load(export(m))` serves
 * bit-identically to `m` (spec + the oracle-gated
 * `bpe_gpt2_roundtrip_encode_ids` query).
 *
 * SPECIAL TOKENS (round-14 verdict ask #2): `<|endoftext|>`-class
 * markers are carried on [[Model.specials]] and served VERBATIM —
 * encode splits on them first (they never merge across, the HF
 * added-token semantics) and emits the file's id for each occurrence
 * ([[encodeDocsIds]] / [[graft.text.Bpe.textIdsBlob]]).
 * `tokenizer.json` round-trips them through `added_tokens`; the GPT-2
 * two-file format declares no specials in-band (encoder.py hardcodes
 * them), so [[load]] takes the special STRINGS as a parameter and
 * resolves their ids from encoder.json. encoder.json entries that
 * don't decode under the GPT-2 byte alphabet are still skipped on
 * load (they are unreachable as byte sequences).
 */
object Gpt2Artifacts {

  /** A loaded tokenizer: merges in rank order (pairCount is 0 — the
    * interchange formats carry no counts) + the FILE's id assignment
    * + its special tokens (raw string → id). */
  final case class Model(merges: Seq[Merge], symToId: Map[String, Long],
      specials: Seq[(String, Long)] = Nil)

  // ------------------------------------------ byte ↔ unicode alphabet

  /** GPT-2's `bytes_to_unicode`: bytes 0x21–0x7E, 0xA1–0xAC, 0xAE–0xFF
    * map to themselves; the remaining 68 bytes to U+0100 + n in byte
    * order. A bijection — 256 distinct chars. */
  private[graft] val byteToUni: Array[Char] = {
    val direct = ((0x21 to 0x7e) ++ (0xa1 to 0xac) ++ (0xae to 0xff)).toSet
    val out = new Array[Char](256)
    var n = 0
    var b = 0
    while (b < 256) {
      if (direct(b)) out(b) = b.toChar
      else { out(b) = (256 + n).toChar; n += 1 }
      b += 1
    }
    out
  }
  private[graft] val uniToByte: Map[Char, Int] =
    byteToUni.zipWithIndex.toMap

  /** Hex-pair symbol → GPT-2 alphabet rendering. */
  private[graft] def symToGpt2(sym: String): String = {
    val sb = new java.lang.StringBuilder(sym.length / 2)
    var i = 0
    while (i < sym.length) {
      val b = (Character.digit(sym.charAt(i), 16) << 4) |
        Character.digit(sym.charAt(i + 1), 16)
      sb.append(byteToUni(b))
      i += 2
    }
    sb.toString
  }

  /** GPT-2 alphabet rendering → hex-pair symbol; None if any char is
    * outside the alphabet (special tokens). */
  private[graft] def gpt2ToSym(s: String): Option[String] = {
    val sb = new java.lang.StringBuilder(s.length * 2)
    var i = 0
    while (i < s.length) {
      uniToByte.get(s.charAt(i)) match {
        case Some(b) => sb.append(f"$b%02X")
        case None => return None
      }
      i += 1
    }
    Some(sb.toString)
  }

  // ------------------------------------------------------------ export

  /** Write `vocab.bpe` + `encoder.json` for a trained merge table, ids
    * per [[Bpe.byteVocab]]; `specials` (if any) appended to
    * encoder.json at the next free ids in list order — GPT-2's own
    * convention (`<|endoftext|>` is the LAST id, 50256). Files are
    * UTF-8 text. */
  def export(merges: Seq[Merge], dir: String,
      specials: Seq[String] = Nil): Unit = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    val bpe = new java.lang.StringBuilder("#version: 0.2\n")
    merges.foreach { m =>
      bpe.append(symToGpt2(m.left)).append(' ')
        .append(symToGpt2(m.right)).append('\n')
    }
    Files.write(d.resolve("vocab.bpe"), bpe.toString.getBytes(UTF_8))
    // jackson (on the Spark classpath) for correct JSON escaping of the
    // alphabet's printable-ASCII quotes/backslashes
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val obj = new java.util.LinkedHashMap[String, java.lang.Long]()
    Bpe.byteVocab(merges).foreach { case (id, sym) =>
      obj.put(symToGpt2(sym), id)
    }
    val base = 256L + merges.size
    specials.zipWithIndex.foreach { case (sp, i) =>
      obj.put(sp, base + i) // raw — specials are their own rendering
    }
    Files.write(d.resolve("encoder.json"), mapper.writeValueAsBytes(obj))
  }

  // ------------------------------------------------------------ import

  /** Load `vocab.bpe` + `encoder.json` from `dir`. Merge ranks follow
    * file order; ids follow the FILE's assignment (not re-derived).
    * The GPT-2 format declares no specials in-band (encoder.py
    * hardcodes `<|endoftext|>`), so the caller names them via
    * `specialTokens`; each must be an encoder.json entry, whose id is
    * served for the special. */
  def load(dir: String, specialTokens: Seq[String] = Nil): Model = {
    val d = Paths.get(dir)
    val lines = new String(
      Files.readAllBytes(d.resolve("vocab.bpe")), UTF_8).split("\n")
    // Skip ONLY the '#version' header (HF tokenizers' convention;
    // gpt2/encoder.py skips exactly the first line). '#' is byte 0x23
    // of the GPT-2 alphabet, so REAL merge lines start with '#'
    // (published vocab.bpe files contain e.g. '# #') — a blanket
    // '#'-prefix filter would silently drop them and shift every
    // later rank (round-14 advice).
    val merges = lines.iterator
      .filter(l => l.nonEmpty && !l.startsWith("#version"))
      .zipWithIndex.map { case (l, rank) =>
        val sp = l.indexOf(' ')
        require(sp > 0 && l.indexOf(' ', sp + 1) < 0,
          s"malformed vocab.bpe line: '$l'")
        val left = gpt2ToSym(l.substring(0, sp))
        val right = gpt2ToSym(l.substring(sp + 1))
        require(left.isDefined && right.isDefined,
          s"vocab.bpe line outside the GPT-2 byte alphabet: '$l'")
        Merge(rank, left.get, right.get, 0L)
      }.toSeq
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tree = mapper.readTree(Files.readAllBytes(d.resolve("encoder.json")))
    val ids = Map.newBuilder[String, Long]
    val raw = Map.newBuilder[String, Long]
    val it = tree.fields()
    while (it.hasNext) {
      val e = it.next()
      raw += e.getKey -> e.getValue.asLong()
      gpt2ToSym(e.getKey) match {
        case Some(sym) => ids += sym -> e.getValue.asLong()
        case None => () // not a byte sequence — reachable only as a special
      }
    }
    val rawMap = raw.result()
    val specials = specialTokens.map { sp =>
      val id = rawMap.getOrElse(sp, throw new IllegalArgumentException(
        s"special token '$sp' not present in encoder.json"))
      sp -> id
    }
    Model(merges, ids.result(), specials)
  }

  // ------------------------------------------- HuggingFace tokenizer.json

  /** Write the SAME model as a single HuggingFace `tokenizer.json`
    * (the de-facto interchange file modern training stacks consume):
    * `model.type = "BPE"`, `model.vocab` (token → id, GPT-2 alphabet),
    * `model.merges` ("left right" strings), plus the ByteLevel
    * pre_tokenizer/decoder stanzas that declare the byte-level
    * lineage. Minimal but valid — loaders that only read
    * `model.vocab`/`model.merges` (most do) round-trip it. */
  def exportTokenizerJson(merges: Seq[Merge], path: String,
      specials: Seq[String] = Nil): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("version", "1.0")
    if (specials.nonEmpty) {
      // the HF `added_tokens` stanza: specials at the next free ids in
      // list order, flagged `special` (and also present in model.vocab
      // below — the published gpt2 tokenizer.json carries both)
      val arr = mapper.createArrayNode()
      val base = 256L + merges.size
      specials.zipWithIndex.foreach { case (sp, i) =>
        val n = mapper.createObjectNode()
        n.put("id", base + i)
        n.put("content", sp)
        n.put("single_word", false)
        n.put("lstrip", false)
        n.put("rstrip", false)
        n.put("normalized", false)
        n.put("special", true)
        arr.add(n)
      }
      root.set[com.fasterxml.jackson.databind.JsonNode]("added_tokens", arr)
    }
    val byteLevel = {
      val n = mapper.createObjectNode()
      n.put("type", "ByteLevel")
      n.put("add_prefix_space", false)
      n.put("trim_offsets", true)
      n.put("use_regex", true)
      n
    }
    root.set[com.fasterxml.jackson.databind.JsonNode](
      "pre_tokenizer", byteLevel)
    root.set[com.fasterxml.jackson.databind.JsonNode](
      "decoder", byteLevel.deepCopy())
    val model = mapper.createObjectNode()
    model.put("type", "BPE")
    val vocab = mapper.createObjectNode()
    Bpe.byteVocab(merges).foreach { case (id, sym) =>
      vocab.put(symToGpt2(sym), id)
    }
    specials.zipWithIndex.foreach { case (sp, i) =>
      vocab.put(sp, 256L + merges.size + i)
    }
    model.set[com.fasterxml.jackson.databind.JsonNode]("vocab", vocab)
    val ms = mapper.createArrayNode()
    merges.foreach(m =>
      ms.add(symToGpt2(m.left) + " " + symToGpt2(m.right)))
    model.set[com.fasterxml.jackson.databind.JsonNode]("merges", ms)
    root.set[com.fasterxml.jackson.databind.JsonNode]("model", model)
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.write(p, mapper.writeValueAsBytes(root))
  }

  /** Load a HuggingFace `tokenizer.json`: `model.merges` in file order
    * (both shapes — `"l r"` strings and `["l","r"]` pairs — occur in
    * published files), ids from `model.vocab` (the FILE's assignment),
    * SPECIALS from the top-level `added_tokens` array (every added
    * token splits-and-serves-its-own-id — the HF encode semantics;
    * `special: false` added tokens behave identically here since
    * normalization is not in this pipeline). vocab entries outside the
    * GPT-2 byte alphabet are skipped (unreachable as byte
    * sequences). */
  def loadTokenizerJson(path: String): Model = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(Files.readAllBytes(Paths.get(path)))
    val model = root.get("model")
    require(model != null && model.get("vocab") != null &&
      model.get("merges") != null,
      s"not a BPE tokenizer.json: $path")
    val mergesNode = model.get("merges")
    val merges = (0 until mergesNode.size()).map { rank =>
      val e = mergesNode.get(rank)
      val (lg, rg) =
        if (e.isArray) (e.get(0).asText(), e.get(1).asText())
        else {
          val t = e.asText()
          val sp = t.indexOf(' ')
          require(sp > 0 && t.indexOf(' ', sp + 1) < 0,
            s"malformed merge entry: '$t'")
          (t.substring(0, sp), t.substring(sp + 1))
        }
      val l = gpt2ToSym(lg)
      val r = gpt2ToSym(rg)
      require(l.isDefined && r.isDefined,
        s"merge entry outside the GPT-2 byte alphabet: '$lg $rg'")
      Merge(rank, l.get, r.get, 0L)
    }
    val ids = Map.newBuilder[String, Long]
    val it = model.get("vocab").fields()
    while (it.hasNext) {
      val e = it.next()
      gpt2ToSym(e.getKey) match {
        case Some(sym) => ids += sym -> e.getValue.asLong()
        case None => () // not a byte sequence — reachable only as a special
      }
    }
    val added = root.get("added_tokens")
    val specials =
      if (added == null || !added.isArray) Nil
      else (0 until added.size()).map { i =>
        val n = added.get(i)
        n.get("content").asText() -> n.get("id").asLong()
      }
    Model(merges, ids.result(), specials)
  }

  /** Serve token IDS under a LOADED model through the text-level id
    * kernel — the verbatim serving path for published tokenizers: the
    * file's own id assignment rides the blob's id-override section, and
    * the model's SPECIAL TOKENS split first and emit the file's ids
    * ([[graft.text.Bpe.textIdsBlob]]). A model without specials serves
    * the plain pretokenize + encode stream. Output schema matches
    * [[Bpe.encodeDocsBytesPretokIds]] (same oracle when the model
    * round-trips a trained table). */
  def encodeDocsIds(docs: DataFrame, textCol: String, idCol: String,
      model: Model): DataFrame =
    Bpe.encodeDocsIdsBlob(docs, textCol, idCol,
      Bpe.mergeBlobWithSpecials(model.merges, model.symToId, model.specials))

  /** Inverse of the id stream under a LOADED model — the decode every
    * serving stack needs for inspection/round-trips, honoring the
    * FILE's id assignment AND its specials: byte-sequence ids
    * concatenate their UTF-8 bytes, special ids emit their special
    * string verbatim. `decode(encode(text))` round-trips any text
    * without marker-bracket carriers (the encode-side filter) — the
    * specials twin of [[Bpe.decodeIds]]. Driver-side (inspection
    * path); unknown ids throw (a corrupt stream, not decodable
    * content). */
  def decodeIds(ids: Seq[Long], model: Model): String = {
    // a well-formed artifact assigns ids injectively; defend with a
    // deterministic min-pick rather than map-order luck
    val symById = model.symToId.groupBy(_._2)
      .map { case (i, g) => i -> g.keys.min }
    val specialById = model.specials.groupBy(_._2)
      .map { case (i, g) => i -> g.map(_._1).min }
    val hex = new java.lang.StringBuilder
    val out = new java.lang.StringBuilder
    def flush(): Unit =
      if (hex.length > 0) {
        out.append(Bpe.decodeByteSymbols(Seq(hex.toString)))
        hex.setLength(0)
      }
    ids.foreach { i =>
      specialById.get(i) match {
        case Some(sp) => flush(); out.append(sp)
        case None => symById.get(i) match {
          case Some(sym) => hex.append(sym)
          case None => throw new IllegalArgumentException(
            s"unknown token id $i")
        }
      }
    }
    flush()
    out.toString
  }
}
