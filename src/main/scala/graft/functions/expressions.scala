package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** UTF8String-facing adapters so StaticInvoke can call the similarity
  * kernels directly from generated code (no UDF serialization, no
  * codegen fallback). Null handling is done by StaticInvoke's
  * propagateNull, except where the reference maps null → 0.0 explicitly. */
object SimilarityAdapters extends Serializable {
  def tokenSortRatio(s1: UTF8String, s2: UTF8String): Double =
    SimilarityKernel.tokenSortRatio(str(s1), str(s2))
  def tokenSort(s: UTF8String): UTF8String =
    UTF8String.fromString(SimilarityKernel.tokenSort(s.toString))
  def ratio(s1: UTF8String, s2: UTF8String): Double =
    SimilarityKernel.ratio(str(s1), str(s2))
  def tokenSetRatio(s1: UTF8String, s2: UTF8String): Double =
    SimilarityKernel.tokenSetRatio(str(s1), str(s2))
  def partialRatio(s1: UTF8String, s2: UTF8String): Double =
    SimilarityKernel.partialRatio(str(s1), str(s2))
  def indelDistance(s1: UTF8String, s2: UTF8String): Int =
    SimilarityKernel.indelDistance(str(s1), str(s2))
  def nameRatios(s1: UTF8String, s2: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      SimilarityKernel.nameRatios(str(s1), str(s2)))
  @inline private def str(s: UTF8String): String = if (s == null) null else s.toString
}

/** UTF8String/ArrayData adapter for the wordpiece tokenizer kernel —
  * one static entry point per bound vocabulary (StaticInvoke needs a
  * static method; the demo vocab is the library default). */
object TokenizerAdapters extends Serializable {
  import org.apache.spark.sql.catalyst.util.ArrayData
  def wordpieceTokens(text: UTF8String): ArrayData =
    ArrayData.toArrayData(
      graft.text.Tokenizer.tokenize(if (text == null) null else text.toString)
        .map(UTF8String.fromString))

  /** File-loaded-vocab variant: `vocabName` is a
    * [[graft.text.VocabRegistry]] name (a SparkContext.addFile-shipped
    * vocab.txt), resolved to the per-JVM memoized parse. */
  def wordpieceTokensVocab(text: UTF8String, vocabName: UTF8String): ArrayData =
    ArrayData.toArrayData(
      graft.text.Tokenizer.tokenize(
        if (text == null) null else text.toString,
        graft.text.VocabRegistry.get(vocabName.toString))
        .map(UTF8String.fromString))

  /** TEXT-level WordPiece id serving under a vocab+id blob
    * ([[graft.text.WordPiece.blobOf]]) — greedy longest-match with the
    * HF model's exact unk semantics; the blob is a plan literal,
    * reference-keyed in the per-thread memo and only stringified on a
    * miss ([[graft.text.WordPiece.textIdsBlob]]). */
  def wordpieceTextIds(text: UTF8String, blob: UTF8String): ArrayData =
    ArrayData.toArrayData(
      graft.text.WordPiece.textIdsBlob(
        if (text == null) null else text.toString, blob, blob.toString))

  /** Unigram-LM Viterbi segmentation of one word — the model blob is a
    * string LITERAL riding the plan (cluster-safe; no side files),
    * parsed once per JVM and memoized ([[graft.text.UnigramLm]]); the
    * row-stable UTF8String is the memo key and is only stringified on
    * a miss. */
  def unigramWordPieces(word: UTF8String, blob: UTF8String,
      maxPieceLen: Int): ArrayData =
    ArrayData.toArrayData(
      graft.text.UnigramLm.wordPiecesBlob(word.toString, blob,
        blob.toString, maxPieceLen).map(UTF8String.fromString))

  /** Byte-BPE symbols of one word under a merge-table blob
    * ([[graft.text.Bpe.mergeBlob]]) — rank-sequential kernel, cost
    * independent of the merge count. The blob is a plan literal, so
    * the UTF8String instance is row-stable: it is passed as the
    * reference key of the per-thread model memo and only stringified
    * on a miss. */
  def bpeByteSymbols(word: UTF8String, blob: UTF8String): ArrayData =
    ArrayData.toArrayData(
      graft.text.Bpe.wordByteSymbolsBlob(word.toString, blob,
        blob.toString).map(UTF8String.fromString))

  /** [[bpeByteSymbols]] emitting the [[graft.text.Bpe.byteVocab]]
    * TOKEN IDS (long) instead of symbol strings. */
  def bpeByteIds(word: UTF8String, blob: UTF8String): ArrayData =
    ArrayData.toArrayData(
      graft.text.Bpe.wordByteIdsBlob(word.toString, blob, blob.toString))

  /** TEXT-level byte-BPE ids with special-token support
    * ([[graft.text.Bpe.textIdsBlob]]): specials split first and emit
    * their own ids, segments pretokenize + encode in the kernel. */
  def bpeTextIds(text: UTF8String, blob: UTF8String): ArrayData =
    ArrayData.toArrayData(
      graft.text.Bpe.textIdsBlob(text.toString, blob, blob.toString))
}

/** Text canonicalization kernel — the C4/CCNet-style normalization a
  * multilingual dedup key needs before hashing: Unicode NFC (composed
  * accents ≡ decomposed), locale-independent full lowercase, ASCII
  * whitespace runs collapsed to single spaces, leading/trailing
  * whitespace stripped. Whitespace is the JAVA regex `\s` class
  * (space, \t, \n, \r, \f, \v) — NOTE this is a superset of RE2's `\s`
  * (RE2 lacks \v), so the DuckDB oracles spell the class out explicitly
  * as `[ \t\n\r\f\x0b]+` instead of using `\s+`; DuckDB's
  * utf8proc lower() agrees with Java's ROOT lowercase on everything in
  * scope except context-sensitive Greek final sigma (documented
  * caveat — per-codepoint vs contextual mapping). */
object TextNormalizeAdapters extends Serializable {
  def normalizeText(text: UTF8String): UTF8String = {
    if (text == null) return null
    val lower = java.text.Normalizer
      .normalize(text.toString, java.text.Normalizer.Form.NFC)
      .toLowerCase(java.util.Locale.ROOT)
    val sb = new java.lang.StringBuilder(lower.length)
    var i = 0
    var pendingSpace = false
    var started = false
    while (i < lower.length) {
      val ch = lower.charAt(i)
      val ws = ch == ' ' || ch == '\t' || ch == '\n' || ch == '\r' ||
        ch == '\f' || ch == '\u000B'
      if (ws) pendingSpace = started
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(ch)
        started = true
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/** ArrayData-facing kernels for the embedding/minhash hot paths.
  * Semantics are bit-identical to the higher-order-function formulations
  * they replace (left-to-right 0.0-seeded folds, same modular
  * arithmetic), but run as tight JVM loops inside whole-stage codegen
  * instead of interpreted lambda trees — the difference is ~10× on
  * pairwise similarity workloads. */
object VectorAdapters extends Serializable {
  import org.apache.spark.sql.catalyst.util.ArrayData

  /** Left-to-right dot product (equal-length arrays). */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val x = a.toDoubleArray(); val y = b.toDoubleArray()
    val n = math.min(x.length, y.length)
    var s = 0.0; var i = 0
    while (i < n) { s += x(i) * y(i); i += 1 }
    s
  }

  /** L2 norm, left-to-right sum of squares. */
  def norm(a: ArrayData): Double = {
    val x = a.toDoubleArray()
    var s = 0.0; var i = 0
    while (i < x.length) { s += x(i) * x(i); i += 1 }
    math.sqrt(s)
  }

  /** PCA projection kernel ([[graft.embeddings.Pca.project]]): micro-
    * quantize the vector (floor(x·1e6 + 0.5) — the expression twin's
    * exact arithmetic), center on the integer mean, and accumulate the
    * EXACT LONG dot against each of the k row-major micro weight
    * vectors, rescaled once to value units. One call replaces k
    * interpreted zip_with+aggregate folds; bit-identical within the
    * fit-time magnitude guard (|micro| < 1e9 — products cannot reach
    * 2⁶³). */
  def pcaProject(v: ArrayData, mean: ArrayData, w: ArrayData): ArrayData = {
    val x = v.toDoubleArray(); val mb = mean.toLongArray()
    val ww = w.toLongArray()
    val d = mb.length
    val k = if (d == 0) 0 else ww.length / d
    val out = new Array[Double](k)
    val c = new Array[Long](d)
    var i = 0
    while (i < d) {
      val xi = x(i)
      // Serve-time twin of Pca.fit's MaxAbsMicro guard: fit validates
      // only the TRAINING corpus, but this kernel projects arbitrary new
      // frames, where a non-finite or |x| >= 1000 component would
      // silently saturate the floor(..).toLong quantization and can
      // overflow the exact LONG accumulation below — fail loud instead
      // (the ANSI expression twin would).
      if (xi.isNaN || xi.isInfinite || math.abs(xi) >= 1000.0)
        throw new IllegalArgumentException(
          s"pca_project input component $i is $xi — components must be " +
            "finite with |x| < 1000 (the fit-time micro-quantization bound)")
      c(i) = math.floor(xi * 1e6 + 0.5).toLong - mb(i)
      i += 1
    }
    var q = 0
    while (q < k) {
      var s = 0L
      i = 0
      while (i < d) { s += c(i) * ww(q * d + i); i += 1 }
      out(q) = s.toDouble / 1e12
      q += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Per-class exact micro-unit softmax logits:
    * out[ki] = b[ki] + Σ_{c ∈ cells, 0 ≤ c < w.length/k} w[c·k + ki]
    * — the integer z-sums of the softmax-LR serve/train hot path in one
    * tight loop (k = b.length, `w` the row-major buckets×k flattening).
    * Replaces the interpreted aggregate/zip_with fold over k-wide
    * arrays; LONG addition is associative, so the sums are bit-identical
    * to the fold they replace. Cells outside [0, buckets) contribute
    * nothing (the zero row the fold's coalesce supplied). */
  def softmaxZ(cells: ArrayData, b: ArrayData, w: ArrayData): ArrayData = {
    val k = b.numElements()
    val out = new Array[Long](k)
    var q = 0
    while (q < k) { out(q) = b.getLong(q); q += 1 }
    val kb = if (k == 0) 0L else (w.numElements() / k).toLong
    val n = cells.numElements()
    var j = 0
    while (j < n) {
      val c = cells.getLong(j)
      if (c >= 0L && c < kb) {
        val off = c.toInt * k
        q = 0
        while (q < k) { out(q) += w.getLong(off + q); q += 1 }
      }
      j += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Nearest centroid by cosine, ties → the EARLIEST row (centroid rows
    * must be in ascending-id order — both centroid builders emit that).
    * `cents` is the row-major nlist×dim flattening, `norms`/`ids` the
    * per-centroid L2 norms and ids. One kernel call replaces nlist
    * inlined `dot(v, literal)` expressions, whose unrolled codegen blew
    * the 64 KB JVM method limit at nlist×dim scale and dropped the
    * whole stage to interpreted mode (round-6 soak observation).
    * Arithmetic is bit-identical to the expression form it replaces:
    * left-to-right dot, left-to-right sum-of-squares norm,
    * `dot / (nv * cn)`, and `>`-only best tracking (first wins ties =
    * array_max over (cos, −cid) structs). */
  def nearestCentroid(v: ArrayData, cents: ArrayData, norms: ArrayData,
      ids: ArrayData): Long = {
    val x = v.toDoubleArray(); val m = cents.toDoubleArray()
    val cn = norms.toDoubleArray()
    val nlist = cn.length
    val dim = if (nlist == 0) 0 else m.length / nlist
    var s = 0.0; var i = 0
    while (i < x.length) { s += x(i) * x(i); i += 1 }
    val nv = math.sqrt(s)
    var best = 0; var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < nlist) {
      var d = 0.0; var j = 0
      val off = c * dim
      val n = math.min(dim, x.length)
      while (j < n) { d += x(j) * m(off + j); j += 1 }
      val score = d / (nv * cn(c))
      if (score > bestScore) { bestScore = score; best = c }
      c += 1
    }
    ids.getLong(best)
  }

  /** The `nprobe` nearest centroid ids in (cosine desc, id asc) order —
    * same scoring/ties as [[nearestCentroid]], replacing the
    * reverse(array_sort(array(struct…))) expression chain. */
  def topCentroids(v: ArrayData, cents: ArrayData, norms: ArrayData,
      ids: ArrayData, nprobe: Int): ArrayData = {
    val x = v.toDoubleArray(); val m = cents.toDoubleArray()
    val cn = norms.toDoubleArray()
    val nlist = cn.length
    val dim = if (nlist == 0) 0 else m.length / nlist
    var s = 0.0; var i = 0
    while (i < x.length) { s += x(i) * x(i); i += 1 }
    val nv = math.sqrt(s)
    val scores = new Array[Double](nlist)
    var c = 0
    while (c < nlist) {
      var d = 0.0; var j = 0
      val off = c * dim
      val n = math.min(dim, x.length)
      while (j < n) { d += x(j) * m(off + j); j += 1 }
      scores(c) = d / (nv * cn(c))
      c += 1
    }
    val k = math.min(nprobe, nlist)
    val out = new Array[Long](k)
    val taken = new Array[Boolean](nlist)
    var r = 0
    while (r < k) {
      var best = -1; var bestScore = Double.NegativeInfinity
      var c2 = 0
      while (c2 < nlist) {
        if (!taken(c2) && scores(c2) > bestScore) {
          bestScore = scores(c2); best = c2
        }
        c2 += 1
      }
      taken(best) = true
      out(r) = ids.getLong(best)
      r += 1
    }
    ArrayData.toArrayData(out)
  }

  /** SRP-LSH bucket ids for ALL hash tables in one call: `planes` is
    * the row-major numTables×numPlanes×dim flattening (stride `dim`),
    * bit p of table t's bucket is set iff the left-to-right dot of v
    * with plane (t,p) is ≥ 0 — identical values to the per-plane
    * `when(dot(v, lit) >= 0, 1<<p)` expression sum it replaces, which
    * unrolled to numTables×numPlanes literal dots and risked the same
    * 64 KB codegen fallback as the centroid scoring. */
  def srpBuckets(v: ArrayData, planes: ArrayData, numPlanes: Int,
      dim: Int): ArrayData = {
    val x = v.toDoubleArray(); val m = planes.toDoubleArray()
    val perTable = numPlanes * dim
    val numTables = if (perTable == 0) 0 else m.length / perTable
    val n = math.min(dim, x.length)
    val out = new Array[Long](numTables)
    var t = 0
    while (t < numTables) {
      var bucket = 0L
      var p = 0
      while (p < numPlanes) {
        var d = 0.0; var j = 0
        val off = t * perTable + p * dim
        while (j < n) { d += x(j) * m(off + j); j += 1 }
        if (d >= 0) bucket |= (1L << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Product-quantization encode: per-subspace nearest codebook entry
    * by squared L2 over the UNIT-NORMALIZED input (norm guarded 0 → 1,
    * matching the int8 scale guard), ties → the smaller code
    * (ascending scan, strict `<` update). `cb` is the row-major
    * m×ksub×dsub flattening of the codebook; dsub = v.length / m.
    * Arithmetic is the exact shape the DuckDB oracle mirrors:
    * left-to-right 0-seeded sums, `u_j = x_j / nv` division per
    * element, `(u−c)·(u−c)` accumulation. */
  def pqEncode(v: ArrayData, cb: ArrayData, m: Int, ksub: Int): ArrayData = {
    val x = v.toDoubleArray(); val c = cb.toDoubleArray()
    val dsub = if (m == 0) 0 else x.length / m
    var s0 = 0.0; var i = 0
    while (i < x.length) { s0 += x(i) * x(i); i += 1 }
    val nv0 = math.sqrt(s0)
    val nv = if (nv0 == 0.0) 1.0 else nv0
    val out = new Array[Long](m)
    var s = 0
    while (s < m) {
      val off = s * dsub
      var best = 0; var bestD = Double.PositiveInfinity
      var cc = 0
      while (cc < ksub) {
        val cboff = (s * ksub + cc) * dsub
        var d = 0.0; var j = 0
        while (j < dsub) {
          val t = x(off + j) / nv - c(cboff + j)
          d += t * t
          j += 1
        }
        if (d < bestD) { bestD = d; best = cc }
        cc += 1
      }
      out(s) = best.toLong
      s += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Product-quantization decode: concatenation of the chosen codebook
    * subvectors — a pure copy, no arithmetic, so the reconstruction is
    * bit-identical to the SQL `flatten(list(cv ORDER BY sub))` form.
    * m = codes.length; dsub = cb.length / (ksub·m). */
  def pqDecode(codes: ArrayData, cb: ArrayData, ksub: Int): ArrayData = {
    val c = cb.toDoubleArray()
    val m = codes.numElements()
    val dsub = if (m == 0) 0 else c.length / (ksub * m)
    val out = new Array[Double](m * dsub)
    var s = 0
    while (s < m) {
      val code = codes.getLong(s).toInt
      val cboff = (s * ksub + code) * dsub
      var j = 0
      while (j < dsub) { out(s * dsub + j) = c(cboff + j); j += 1 }
      s += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Bloom membership probe — see [[graft.dedup.BloomRegistry]]. */
  def bloomMightContain(name: UTF8String, h: Long): Boolean =
    graft.dedup.BloomRegistry.get(name.toString).mightContainLong(h)

  // Perceptual fingerprints as row-level kernels — the SQL-surface
  // twins of the typed mapPartitions operators (Multimodal.imageDhash /
  // imagePhash / audioFingerprint): decode + hash in one codegen'd
  // call. Undecodable payloads return NULL (the no-fingerprint-row
  // convention, expressed as SQL nullability).

  def imageDhash64(bytes: Array[Byte]): java.lang.Long =
    graft.multimodal.Dhash.decodePixels(bytes)
      .map(p => java.lang.Long.valueOf(
        graft.multimodal.Dhash.dhash64(p.width, p.height, p.lum)))
      .orNull

  def imagePhash64(bytes: Array[Byte]): java.lang.Long =
    graft.multimodal.Dhash.decodePixels(bytes)
      .map(p => java.lang.Long.valueOf(
        graft.multimodal.Phash.phash64(p.width, p.height, p.lum)))
      .orNull

  def audioFingerprint64(bytes: Array[Byte]): java.lang.Long =
    (try graft.multimodal.Wav.decodeSamples(bytes)
     catch { case scala.util.control.NonFatal(_) => None })
      .flatMap(w => graft.multimodal.AudioFingerprint.fingerprint64(w.samples))
      .map(java.lang.Long.valueOf).orNull

  /** The 11 Gopher repetition signals of one document in one JVM pass —
    * the MAP-SIDE form of `TextAnalysis.repetitionSignals`' explode/
    * aggregate plan: every signal is per-document, so nothing needs to
    * shuffle (the compositional plan moves ~9× the token count in gram
    * strings through an exchange; this kernel moves nothing). Output
    * order: dup_line_frac, dup_line_char_frac, top_{2,3,4}gram_char_frac,
    * dup_{5..10}gram_char_frac — all rounded HALF_UP to 4 decimals
    * (identical to Spark's round() and DuckDB's round()). Definitions
    * are bit-identical to the compositional form (asserted by spec):
    * code-point lengths, untrimmed line content grouped after a
    * trim-nonempty filter, overlapping single-space n-gram joins, top
    * tie-break (count desc, charlen desc). */
  def gopherRepetition(text: UTF8String): ArrayData = {
    val out = new Array[Double](11)
    if (text == null) return ArrayData.toArrayData(out)
    val raw = text.toString
    def cplen(s: String): Long = s.codePointCount(0, s.length).toLong
    def round4(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    // line signals: group untrimmed content, filter trim-nonempty
    val lineCnt = new java.util.HashMap[String, Long]
    raw.split("\n", -1).foreach { l =>
      if (l.trim.nonEmpty) lineCnt.merge(l, 1L, _ + _)
    }
    if (!lineCnt.isEmpty) {
      var occ = 0L; var dupOcc = 0L; var chars = 0L; var dupChars = 0L
      lineCnt.forEach { (l, c) =>
        val len = cplen(l)
        occ += c; dupOcc += c - 1
        chars += c * len; dupChars += (c - 1) * len
      }
      out(0) = round4(dupOcc.toDouble / occ)
      if (chars > 0) out(1) = round4(dupChars.toDouble / chars)
    }
    // token n-gram signals (ROOT-locale lowercase — Spark's lower() is
    // locale-independent)
    val toks = raw.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty)
    var totalChars = 0L
    toks.foreach(t => totalChars += cplen(t))
    if (toks.length > 1) totalChars += toks.length - 1
    if (totalChars > 0) {
      var n = 2
      while (n <= 10) {
        val cnt = new java.util.HashMap[String, Long]
        var i = 0
        while (i + n <= toks.length) {
          val sb = new java.lang.StringBuilder(toks(i))
          var j = 1
          while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
          cnt.merge(sb.toString, 1L, _ + _)
          i += 1
        }
        if (n <= 4) {
          var bestCnt = 0L; var bestLen = 0L
          cnt.forEach { (g, c) =>
            val len = cplen(g)
            if (c > bestCnt || (c == bestCnt && len > bestLen)) {
              bestCnt = c; bestLen = len
            }
          }
          if (bestCnt > 0)
            out(n) = round4((bestCnt * bestLen).toDouble / totalChars)
        } else {
          var dupChars = 0L
          cnt.forEach { (g, c) =>
            if (c > 1) dupChars += (c - 1) * cplen(g)
          }
          out(n) = round4(dupChars.toDouble / totalChars)
        }
        n += 1
      }
    }
    ArrayData.toArrayData(out)
  }

  /** Distinct hashed word n-gram shingles of a text, in first-occurrence
    * order — one JVM pass replacing the interpreted
    * `array_distinct(transform(shingles(text), md5-hash))` chain.
    * Hash = value of the first 15 hex digits of md5(shingle) mod P,
    * identical to `conv(substr(md5(x),1,15),16,10) % P`. */
  def hashedShingles(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return ArrayData.toArrayData(Array.empty[Long])
    val toks = text.toString.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) return ArrayData.toArrayData(Array.empty[Long])
    val md = java.security.MessageDigest.getInstance("MD5")
    val seen = new java.util.LinkedHashSet[java.lang.Long]
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      md.reset()
      val d = md.digest(sb.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      // first 15 hex chars = bytes 0-6 plus the high nibble of byte 7
      var v = 0L
      var k = 0
      while (k < 7) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
      v = (v << 4) | ((d(7) & 0xf0L) >> 4)
      seen.add(v % 1000000007L)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var m = 0
    while (it.hasNext) { out(m) = it.next(); m += 1 }
    ArrayData.toArrayData(out)
  }

  /** Unigram + bigram hashed DSIR feature cells of a text: md5-prefix
    * hash mod P mod `buckets`, multiplicity kept, unigrams first then
    * bigrams — one JVM pass replacing the interpreted per-gram md5
    * lambda chain (which paid ~8 µs/gram in expression interpretation).
    * Hash construction identical to [[hashedShingles]]. */
  def dsirCells(text: UTF8String, buckets: Int): ArrayData = {
    if (text == null) return ArrayData.toArrayData(Array.empty[Long])
    val toks = text.toString.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
    val n = toks.length
    val out = new Array[Long](if (n >= 2) 2 * n - 1 else n)
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(s: String): Long = {
      md.reset()
      val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var v = 0L
      var k = 0
      while (k < 7) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
      v = (v << 4) | ((d(7) & 0xf0L) >> 4)
      (v % 1000000007L) % buckets
    }
    var i = 0
    while (i < n) { out(i) = h(toks(i)); i += 1 }
    i = 0
    while (i < n - 1) { out(n + i) = h(toks(i) + " " + toks(i + 1)); i += 1 }
    ArrayData.toArrayData(out)
  }

  /** All `w`-token windows of a text at the given stride, as strings in
    * position order — one JVM pass replacing the interpreted
    * slice+concat lambda chain. Window i covers tokens
    * [i·stride, i·stride + w). Texts with fewer than w tokens yield an
    * empty array. */
  def tokenWindows(text: UTF8String, w: Int, stride: Int): ArrayData = {
    if (text == null) return ArrayData.toArrayData(Array.empty[UTF8String])
    val toks = text.toString.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
    if (toks.length < w) return ArrayData.toArrayData(Array.empty[UTF8String])
    val m = (toks.length - w) / stride + 1
    val out = new Array[UTF8String](m)
    var i = 0
    while (i < m) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < w) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i * stride + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Rabin-Karp polynomial rolling hash of a text's UTF-8 bytes
    * (base 257 mod 1_000_000_007): a content fingerprint computable
    * incrementally over streams/chunks — the complement of the
    * token-set fingerprint in TextAnalysis (which is order-insensitive;
    * this one is order-sensitive). */
  /** HTML main-content kernel ([[graft.text.HtmlExtract.mainContent]]):
    * single-pass block segmentation + jusText-style classification. */
  def htmlMainText(html: UTF8String, minWords: Int, maxLinkDensity: Double,
      minStopRatio: Double): UTF8String =
    UTF8String.fromString(graft.text.HtmlExtract.mainContent(
      html.toString, minWords, maxLinkDensity, minStopRatio))

  def rollingHash(text: UTF8String): Long = {
    if (text == null) return 0L
    val bytes = text.getBytes
    val P = 1000000007L
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h * 257 + (bytes(i) & 0xff)) % P
      i += 1
    }
    h
  }

  /** 60-bit SimHash (Charikar) of a text: occurrence-weighted bit votes
    * over the md5-prefix token hashes — one per-document pass, no
    * shuffle (the expression formulation exploded tokens × 60 bit rows).
    * Bit j of the result is 1 iff Σ_tokens (±1 by bit j of hash) > 0. */
  def simhash60(text: UTF8String): Long = {
    if (text == null) return 0L
    val votes = new Array[Int](60)
    val md = java.security.MessageDigest.getInstance("MD5")
    val toks = text.toString.toLowerCase(java.util.Locale.ROOT).split("\\s+")
    var i = 0
    while (i < toks.length) {
      if (toks(i).nonEmpty) {
        md.reset()
        val d = md.digest(toks(i).getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        var v = 0L
        var k = 0
        while (k < 7) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
        v = (v << 4) | ((d(7) & 0xf0L) >> 4)
        val h = v % 1000000007L
        var j = 0
        while (j < 60) {
          if (((h >> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 60) {
      if (votes(j) > 0) out |= 1L << j
      j += 1
    }
    out
  }

  /** MinHash signature over pre-hashed shingles:
    * sig[i] = min_h ((2i+1)·h + i² + 7) mod P  (P = TextDedup.P). */
  def minhashSig(hashes: ArrayData, numPerms: Int): ArrayData = {
    val P = 1000000007L
    val h = hashes.toLongArray()
    val out = new Array[Long](numPerms)
    var i = 0
    while (i < numPerms) {
      val a = 2L * i + 1
      val c = 1L * i * i + 7
      var m = Long.MaxValue
      var j = 0
      while (j < h.length) {
        val v = (a * h(j) + c) % P
        if (v < m) m = v
        j += 1
      }
      out(i) = m
      i += 1
    }
    ArrayData.toArrayData(out)
  }
}

/**
 * ABN checksum validity as a native Catalyst expression with code
 * generation (reference semantics: src/common/utils.py:270-300). Returns
 * false — not null — for null input, matching the Python `validate_abn`.
 */
case class AbnValid(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def checkInputDataTypes() =
    if (child.dataType == StringType || child.dataType == NullType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"abn_valid expects STRING, got ${child.dataType.catalogString}")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    AbnKernel.isValid(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val kernel = AbnKernel.getClass.getName.stripSuffix("$")
    ev.copy(
      code = code"""
        ${childGen.code}
        boolean ${ev.value} = $kernel.isValid(
          ${childGen.isNull} ? null : ${childGen.value});
      """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): AbnValid =
    copy(child = newChild)
}

/** Column-facing entry points for the custom expressions, plus SQL
  * function registration so `spark.sql` can use them too. */
object GraftFunctions {
  private def col(e: Expression): Column = ColumnBridge.column(e)
  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  private def invoke2(name: String, c1: Column, c2: Column, dt: DataType): Column =
    col(StaticInvoke(
      SimilarityAdapters.getClass,
      dt,
      name,
      Seq(expr(c1), expr(c2)),
      inputTypes = Seq(StringType, StringType),
      propagateNull = true,
      returnNullable = false))

  /** RapidFuzz-style token_sort_ratio in [0,1] — the reference's fuzzy
    * matcher score (entity_match.py:473-491). Codegen'd via StaticInvoke. */
  def token_sort_ratio(c1: Column, c2: Column): Column =
    invoke2("tokenSortRatio", c1, c2, DoubleType)

  /** Whitespace tokens sorted and joined by single spaces — the per-row
    * half of token_sort_ratio: `indel_ratio(token_sort(a), token_sort(b))`
    * equals `token_sort_ratio(a, b)`, nulls included. */
  def token_sort(c: Column): Column =
    col(StaticInvoke(SimilarityAdapters.getClass, StringType, "tokenSort",
      Seq(expr(c)), inputTypes = Seq(StringType),
      propagateNull = true, returnNullable = false))

  /** Plain InDel ratio in [0,1] (RapidFuzz `ratio`). */
  def indel_ratio(c1: Column, c2: Column): Column =
    invoke2("ratio", c1, c2, DoubleType)

  /** RapidFuzz-style token_set_ratio in [0,1]. */
  def token_set_ratio(c1: Column, c2: Column): Column =
    invoke2("tokenSetRatio", c1, c2, DoubleType)

  /** RapidFuzz-style partial_ratio in [0,1]. */
  def partial_ratio(c1: Column, c2: Column): Column =
    invoke2("partialRatio", c1, c2, DoubleType)

  /** InDel edit distance (insert/delete only). */
  def indel_distance(c1: Column, c2: Column): Column =
    invoke2("indelDistance", c1, c2, IntegerType)

  /** All four name ratios in one fused kernel pass:
    * [indel, token_sort, token_set, partial]. */
  def name_ratios(c1: Column, c2: Column): Column =
    invoke2("nameRatios", c1, c2, ArrayType(DoubleType, containsNull = false))

  /** ABN checksum validity; false for null (utils.py:270-300). */
  def abn_valid(c: Column): Column = col(AbnValid(expr(c)))

  private val DoubleArray = ArrayType(DoubleType)

  /** Codegen'd dot product of two array<double> columns. */
  def dot_product(a: Column, b: Column): Column =
    col(StaticInvoke(VectorAdapters.getClass, DoubleType, "dot",
      Seq(expr(a), expr(b)), inputTypes = Seq(DoubleArray, DoubleArray),
      propagateNull = true, returnNullable = false))

  /** Codegen'd L2 norm of an array<double> column. */
  def l2_norm(a: Column): Column =
    col(StaticInvoke(VectorAdapters.getClass, DoubleType, "norm",
      Seq(expr(a)), inputTypes = Seq(DoubleArray),
      propagateNull = true, returnNullable = false))

  /** Codegen'd PCA projection: k exact integer dots of the micro-
    * centered vector against the flattened k×d micro weight matrix
    * (both literals riding the plan). Returns array<double> of the k
    * projections. */
  def pca_project_k(v: Column, mean: Column, w: Column): Column =
    col(StaticInvoke(VectorAdapters.getClass,
      ArrayType(DoubleType, containsNull = false), "pcaProject",
      Seq(expr(v), expr(mean), expr(w)),
      inputTypes = Seq(DoubleArray, ArrayType(LongType), ArrayType(LongType)),
      propagateNull = true, returnNullable = false))

  /** Codegen'd distinct hashed n-gram shingles of a text column. */
  def hashed_shingles(text: Column, n: Int): Column =
    col(StaticInvoke(VectorAdapters.getClass,
      ArrayType(LongType, containsNull = false), "hashedShingles",
      Seq(expr(text), expr(org.apache.spark.sql.functions.lit(n))),
      inputTypes = Seq(StringType, IntegerType),
      propagateNull = true, returnNullable = false))

  /** Codegen'd per-class exact micro-unit softmax logits: the k
    * intercepts plus, per cell, one row of the flat buckets×k micro
    * weight matrix (both riding the plan as literals). Returns
    * array<long> of the k z-sums ([[VectorAdapters.softmaxZ]]). */
  def softmax_z(cells: Column, b: Column, w: Column): Column =
    col(StaticInvoke(VectorAdapters.getClass,
      ArrayType(LongType, containsNull = false), "softmaxZ",
      Seq(expr(cells), expr(b), expr(w)),
      inputTypes = Seq(ArrayType(LongType), ArrayType(LongType),
        ArrayType(LongType)),
      propagateNull = true, returnNullable = false))

  /** Codegen'd DSIR unigram+bigram hashed feature cells of a text
    * column. */
  def dsir_cells(text: Column, buckets: Int): Column =
    col(StaticInvoke(VectorAdapters.getClass,
      ArrayType(LongType, containsNull = false), "dsirCells",
      Seq(expr(text), expr(org.apache.spark.sql.functions.lit(buckets))),
      inputTypes = Seq(StringType, IntegerType),
      propagateNull = true, returnNullable = false))

  /** Codegen'd w-token windows (position order) of a text column. */
  def token_windows(text: Column, w: Int, stride: Int): Column =
    col(StaticInvoke(VectorAdapters.getClass,
      ArrayType(StringType, containsNull = false), "tokenWindows",
      Seq(expr(text), expr(org.apache.spark.sql.functions.lit(w)),
        expr(org.apache.spark.sql.functions.lit(stride))),
      inputTypes = Seq(StringType, IntegerType, IntegerType),
      propagateNull = true, returnNullable = false))

  /** Codegen'd HTML main-content extraction: block segmentation +
    * link-density / word-count / stopword-density / bad-container
    * classification, surviving blocks newline-joined
    * ([[graft.text.HtmlExtract]]). */
  def html_main_text(html: Column, minWords: Int = 3,
      maxLinkDensity: Double = 0.33, minStopRatio: Double = 0.0): Column =
    col(StaticInvoke(VectorAdapters.getClass, StringType, "htmlMainText",
      Seq(expr(html), expr(org.apache.spark.sql.functions.lit(minWords)),
        expr(org.apache.spark.sql.functions.lit(maxLinkDensity)),
        expr(org.apache.spark.sql.functions.lit(minStopRatio))),
      inputTypes = Seq(StringType, IntegerType, DoubleType, DoubleType),
      propagateNull = true, returnNullable = false))

  /** Codegen'd Rabin-Karp rolling-hash fingerprint of a text column. */
  def rolling_hash(text: Column): Column =
    col(StaticInvoke(VectorAdapters.getClass, LongType, "rollingHash",
      Seq(expr(text)), inputTypes = Seq(StringType),
      propagateNull = true, returnNullable = false))

  /** Codegen'd 60-bit SimHash of a text column. */
  def simhash60(text: Column): Column =
    col(StaticInvoke(VectorAdapters.getClass, LongType, "simhash60",
      Seq(expr(text)), inputTypes = Seq(StringType),
      propagateNull = true, returnNullable = false))

  /** Codegen'd nearest-centroid assignment (see
    * [[VectorAdapters.nearestCentroid]]); centroid matrix/norms/ids ride
    * as three flat literals instead of nlist unrolled expressions. */
  def nearest_centroid(v: Column, cents: Column, norms: Column,
      ids: Column): Column =
    col(StaticInvoke(VectorAdapters.getClass, LongType, "nearestCentroid",
      Seq(expr(v), expr(cents), expr(norms), expr(ids)),
      inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType),
        ArrayType(DoubleType), ArrayType(LongType)),
      propagateNull = true, returnNullable = false))

  /** Codegen'd nprobe-nearest centroid ids (cos desc, id asc). */
  def top_centroids(v: Column, cents: Column, norms: Column, ids: Column,
      nprobe: Int): Column =
    col(StaticInvoke(VectorAdapters.getClass,
      ArrayType(LongType, containsNull = false), "topCentroids",
      Seq(expr(v), expr(cents), expr(norms), expr(ids),
        expr(org.apache.spark.sql.functions.lit(nprobe))),
      inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType),
        ArrayType(DoubleType), ArrayType(LongType), IntegerType),
      propagateNull = true, returnNullable = false))

  /** Codegen'd PQ encode (see [[VectorAdapters.pqEncode]]); the
    * m×ksub×dsub codebook rides as ONE flat literal. */
  def pq_encode(v: Column, cb: Column, m: Int, ksub: Int): Column =
    col(StaticInvoke(VectorAdapters.getClass,
      ArrayType(LongType, containsNull = false), "pqEncode",
      Seq(expr(v), expr(cb),
        expr(org.apache.spark.sql.functions.lit(m)),
        expr(org.apache.spark.sql.functions.lit(ksub))),
      inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType),
        IntegerType, IntegerType),
      propagateNull = true, returnNullable = false))

  /** Codegen'd Bloom membership probe against a
    * [[graft.dedup.BloomRegistry]]-registered filter (name rides as a
    * literal; the filter itself ships as a Spark side file). */
  def bloom_might_contain(name: Column, h: Column): Column =
    col(StaticInvoke(VectorAdapters.getClass, BooleanType,
      "bloomMightContain", Seq(expr(name), expr(h)),
      inputTypes = Seq(StringType, LongType),
      propagateNull = true, returnNullable = false))

  /** Codegen'd perceptual fingerprints over a binary column — the SQL
    * twins of the typed operators; NULL for undecodable payloads. */
  def image_dhash64(bin: Column): Column =
    col(StaticInvoke(VectorAdapters.getClass, LongType, "imageDhash64",
      Seq(expr(bin)), inputTypes = Seq(BinaryType),
      propagateNull = true, returnNullable = true))
  def image_phash64(bin: Column): Column =
    col(StaticInvoke(VectorAdapters.getClass, LongType, "imagePhash64",
      Seq(expr(bin)), inputTypes = Seq(BinaryType),
      propagateNull = true, returnNullable = true))
  def audio_fingerprint64(bin: Column): Column =
    col(StaticInvoke(VectorAdapters.getClass, LongType, "audioFingerprint64",
      Seq(expr(bin)), inputTypes = Seq(BinaryType),
      propagateNull = true, returnNullable = true))

  /** Codegen'd Gopher repetition signals (see
    * [[VectorAdapters.gopherRepetition]]): 11 doubles per doc, zero
    * shuffle. */
  def gopher_repetition(text: Column): Column =
    col(StaticInvoke(VectorAdapters.getClass,
      ArrayType(DoubleType, containsNull = false), "gopherRepetition",
      Seq(expr(text)), inputTypes = Seq(StringType),
      propagateNull = true, returnNullable = false))

  /** Codegen'd PQ decode (see [[VectorAdapters.pqDecode]]). */
  def pq_decode(codes: Column, cb: Column, ksub: Int): Column =
    col(StaticInvoke(VectorAdapters.getClass,
      ArrayType(DoubleType, containsNull = false), "pqDecode",
      Seq(expr(codes), expr(cb),
        expr(org.apache.spark.sql.functions.lit(ksub))),
      inputTypes = Seq(ArrayType(LongType), ArrayType(DoubleType),
        IntegerType),
      propagateNull = true, returnNullable = false))

  /** Codegen'd all-tables SRP-LSH buckets (see
    * [[VectorAdapters.srpBuckets]]). */
  def srp_buckets(v: Column, planes: Column, numPlanes: Int,
      dim: Int): Column =
    col(StaticInvoke(VectorAdapters.getClass,
      ArrayType(LongType, containsNull = false), "srpBuckets",
      Seq(expr(v), expr(planes),
        expr(org.apache.spark.sql.functions.lit(numPlanes)),
        expr(org.apache.spark.sql.functions.lit(dim))),
      inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType),
        IntegerType, IntegerType),
      propagateNull = true, returnNullable = false))

  /** Codegen'd MinHash signature from pre-hashed shingles. */
  def minhash_sig(hashes: Column, numPerms: Int): Column =
    col(StaticInvoke(VectorAdapters.getClass,
      ArrayType(LongType, containsNull = false), "minhashSig",
      Seq(expr(hashes), expr(org.apache.spark.sql.functions.lit(numPerms))),
      inputTypes = Seq(ArrayType(LongType), IntegerType),
      propagateNull = true, returnNullable = false))

  /** Codegen'd greedy wordpiece segmentation of a text column against
    * [[graft.text.Tokenizer.DemoVocab]] (see Tokenizer for semantics;
    * bind a different Vocab by adding an adapter like
    * [[TokenizerAdapters.wordpieceTokens]]). */
  def wordpiece_tokens(text: Column): Column =
    col(StaticInvoke(TokenizerAdapters.getClass,
      ArrayType(StringType, containsNull = false), "wordpieceTokens",
      Seq(expr(text)), inputTypes = Seq(StringType),
      propagateNull = true, returnNullable = false))

  /** C4/CCNet-style text canonicalization (NFC → ROOT lowercase →
    * ASCII-\s collapse → trim) as one codegen'd kernel — the dedup-key
    * normalization for multilingual corpora ([[TextNormalizeAdapters]]
    * for the exact semantics + the one documented DuckDB divergence). */
  def normalize_text(text: Column): Column =
    col(StaticInvoke(TextNormalizeAdapters.getClass, StringType,
      "normalizeText", Seq(expr(text)), inputTypes = Seq(StringType),
      propagateNull = true, returnNullable = false))

  /** [[wordpiece_tokens]] against a FILE-LOADED vocabulary previously
    * registered via [[graft.text.VocabRegistry.register]] — the vocab
    * name rides the plan as a string literal; executors resolve it to
    * their memoized local parse (no closure, still codegen'd). */
  def wordpiece_tokens(text: Column, vocabName: String): Column =
    col(StaticInvoke(TokenizerAdapters.getClass,
      ArrayType(StringType, containsNull = false), "wordpieceTokensVocab",
      Seq(expr(text), expr(org.apache.spark.sql.functions.lit(vocabName))),
      inputTypes = Seq(StringType, StringType),
      propagateNull = true, returnNullable = false))

  /** TEXT-level WordPiece TOKEN IDS of a document column under a
    * trained/loaded vocab+id blob ([[graft.text.WordPiece.blobOf]]) —
    * one codegen'd kernel call per document, HF WordPiece model unk
    * semantics (over-long or greedy-failed words → one unk id). */
  def wordpiece_ids(text: Column, blob: Column): Column =
    col(StaticInvoke(TokenizerAdapters.getClass,
      ArrayType(LongType, containsNull = false), "wordpieceTextIds",
      Seq(expr(text), expr(blob)),
      inputTypes = Seq(StringType, StringType),
      propagateNull = true, returnNullable = false))

  /** Unigram-LM Viterbi pieces of one WORD column under a trained model
    * blob ([[graft.text.UnigramLm.blob]]) — used inside a `transform`
    * over the tokenized text, so tokenization parity stays with the
    * engine's own lower/split expressions. */
  def unigram_word_pieces(word: Column, blob: Column,
      maxPieceLen: Int): Column =
    col(StaticInvoke(TokenizerAdapters.getClass,
      ArrayType(StringType, containsNull = false), "unigramWordPieces",
      Seq(expr(word), expr(blob),
        expr(org.apache.spark.sql.functions.lit(maxPieceLen))),
      inputTypes = Seq(StringType, StringType, IntegerType),
      propagateNull = true, returnNullable = false))

  /** Byte-BPE symbols of one WORD column under a trained merge-table
    * blob ([[graft.text.Bpe.mergeBlob]] — rides the plan as a string
    * literal, parsed once per JVM): the rank-SEQUENTIAL kernel, bit-
    * identical to the replace fold at any table size but O(len²) per
    * word INDEPENDENT of the merge count — the serving path that
    * survives production (≥32k-merge) tables, where the fold's
    * numMerges-deep expression tree dies at plan analysis. */
  def bpe_byte_symbols(word: Column, blob: Column): Column =
    col(StaticInvoke(TokenizerAdapters.getClass,
      ArrayType(StringType, containsNull = false), "bpeByteSymbols",
      Seq(expr(word), expr(blob)),
      inputTypes = Seq(StringType, StringType),
      propagateNull = true, returnNullable = false))

  /** [[bpe_byte_symbols]] emitting [[graft.text.Bpe.byteVocab]] token
    * IDS — the stream a training run consumes, without a plan-literal
    * map lookup per token. */
  def bpe_byte_ids(word: Column, blob: Column): Column =
    col(StaticInvoke(TokenizerAdapters.getClass,
      ArrayType(LongType, containsNull = false), "bpeByteIds",
      Seq(expr(word), expr(blob)),
      inputTypes = Seq(StringType, StringType),
      propagateNull = true, returnNullable = false))

  /** TEXT-level byte-BPE ids with SPECIAL-TOKEN support — the verbatim
    * serving path for published tokenizers ([[graft.text.Bpe.textIdsBlob]]
    * under a [[graft.text.Bpe.mergeBlobWithSpecials]] blob): specials
    * split first and emit their section ids, the text between them
    * pretokenizes (GPT-2 regex, in-kernel) and encodes through the
    * bounded byte kernel. One StaticInvoke per document. */
  def bpe_text_ids(text: Column, blob: Column): Column =
    col(StaticInvoke(TokenizerAdapters.getClass,
      ArrayType(LongType, containsNull = false), "bpeTextIds",
      Seq(expr(text), expr(blob)),
      inputTypes = Seq(StringType, StringType),
      propagateNull = true, returnNullable = false))

  /** Misra-Gries heavy-hitters aggregate: at most k counters, mergeable,
    * exact when the distinct-item count stays ≤ k (see [[HeavyHitters]]). */
  def heavy_hitters(c: Column, k: Int): Column =
    col(HeavyHitters(expr(c),
      org.apache.spark.sql.catalyst.expressions.Literal(k))
      .toAggregateExpression())

  /** Deterministic HyperLogLog register aggregate over the shared
    * md5-prefix 60-bit hash (see [[HllRegisters]]): `array<int>` of
    * 2^p registers, mergeable by register-wise max. */
  def hll_registers(c: Column, p: Int): Column =
    col(HllRegisters(expr(c),
      org.apache.spark.sql.catalyst.expressions.Literal(p))
      .toAggregateExpression())

  /** The HLL estimate over a [[hll_registers]] array, IN-PLAN and
    * oracle-replayable: S = Σ 2^(Q−r) folded as an exact LONG
    * (Q = 61−p; ≤ 2^61 for any p), raw estimate α·m²·2^Q / S, and
    * Flajolet's linear-counting branch m·ln(m/V) when empty registers
    * remain and the raw estimate is below 2.5 m. Rounded to 4 dp. */
  def hll_estimate(regs: Column, p: Int): Column = {
    import org.apache.spark.sql.functions._
    val m = 1 << p
    val q = 61 - p
    val s = aggregate(regs, lit(0L),
      (acc, r) => acc + pow(lit(2.0), lit(q) - r).cast("long"))
    val v = size(filter(regs, r => r === lit(0)))
    val alpha = 0.7213 / (1.0 + 1.079 / m.toDouble)
    val num = alpha * m * m * math.pow(2.0, q)
    val eRaw = lit(num) / s.cast("double")
    round(when(v > lit(0) && eRaw <= lit(2.5 * m),
      lit(m.toDouble) * log(lit(m.toDouble) / v.cast("double")))
      .otherwise(eRaw), 4)
  }

  /** `approx_count_distinct` with a replayable sketch:
    * [[hll_estimate]] ∘ [[hll_registers]]. */
  def approx_distinct(c: Column, p: Int = 10): Column =
    hll_estimate(hll_registers(c, p), p)

  /** Deterministic bottom-k quantile sample over the shared md5-prefix
    * hash of `key` (see [[QuantileSketchValues]]): `array<double>` of
    * ≤ k values in (hash, value) order — order/partition-invariant,
    * mergeable, DuckDB-replayable. Estimate with [[quantile_estimate]]. */
  def quantile_sketch(value: Column, key: Column, k: Int): Column =
    col(QuantileSketchValues(expr(value), expr(key),
      org.apache.spark.sql.catalyst.expressions.Literal(k))
      .toAggregateExpression())

  /** The PERSISTABLE partial of [[quantile_sketch]]: (h, v) structs —
    * epoch partials merge on read via [[quantile_merge]] and equal the
    * batch sketch (bottom-k of a union is the union of bottom-ks
    * re-bottomed). */
  def quantile_sketch_partial(value: Column, key: Column, k: Int): Column =
    col(QuantileSketchPartial(expr(value), expr(key),
      org.apache.spark.sql.catalyst.expressions.Literal(k))
      .toAggregateExpression())

  /** Merge collected [[quantile_sketch_partial]] arrays IN-PLAN:
    * flatten → (h, v) sort → first k → values. Bit-equal to the batch
    * [[quantile_sketch]] over the union of the partial inputs.
    * PRECONDITION: the partials must cover DISJOINT row sets — no
    * dedup happens here, so a row presented through two partials
    * occupies two sample slots and biases the estimate (see
    * [[QuantileSample.merge]]; the epoch-partition discipline provides
    * disjointness by construction). */
  def quantile_merge(partials: Column, k: Int): Column = {
    import org.apache.spark.sql.functions._
    transform(slice(array_sort(flatten(partials)), 1, k),
      e => e.getField("v"))
  }

  /** IN-PLAN quantile estimate over a [[quantile_sketch]] sample:
    * lower nearest-rank (index `floor(q·(n−1))` of the value-sorted
    * sample — no interpolation, so the oracle replays the exact
    * double). Null on an empty sample. */
  def quantile_estimate(sample: Column, q: Double): Column = {
    import org.apache.spark.sql.functions._
    require(q >= 0.0 && q <= 1.0, s"quantile out of range: $q")
    val sorted = array_sort(sample)
    val n = size(sorted)
    when(n > lit(0), element_at(sorted,
      floor(lit(q) * (n - lit(1)).cast("double")).cast("int") + lit(1)))
  }

  /** Register the custom functions for Spark SQL usage. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("abn_valid",
      exprs => AbnValid(exprs.head), "built-in")
    reg.createOrReplaceTempFunction("token_sort_ratio",
      exprs => expr(token_sort_ratio(col(exprs(0)), col(exprs(1)))), "built-in")
    reg.createOrReplaceTempFunction("heavy_hitters",
      exprs => HeavyHitters(exprs(0), exprs(1)).toAggregateExpression(),
      "built-in")
    reg.createOrReplaceTempFunction("hll_registers",
      exprs => HllRegisters(exprs(0), exprs(1)).toAggregateExpression(),
      "built-in")
    reg.createOrReplaceTempFunction("normalize_text",
      exprs => expr(normalize_text(col(exprs.head))), "built-in")
    reg.createOrReplaceTempFunction("wordpiece_tokens",
      exprs =>
        if (exprs.length >= 2)
          // 2-arg SQL form: wordpiece_tokens(text, 'vocab.txt') — the
          // vocab name must be a registered VocabRegistry entry.
          StaticInvoke(TokenizerAdapters.getClass,
            ArrayType(StringType, containsNull = false),
            "wordpieceTokensVocab", exprs.take(2),
            inputTypes = Seq(StringType, StringType),
            propagateNull = true, returnNullable = false)
        else expr(wordpiece_tokens(col(exprs.head))), "built-in")
    reg.createOrReplaceTempFunction("image_dhash64",
      exprs => expr(image_dhash64(col(exprs.head))), "built-in")
    reg.createOrReplaceTempFunction("image_phash64",
      exprs => expr(image_phash64(col(exprs.head))), "built-in")
    reg.createOrReplaceTempFunction("audio_fingerprint64",
      exprs => expr(audio_fingerprint64(col(exprs.head))), "built-in")
  }
}
