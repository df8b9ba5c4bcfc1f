package graft.text

import graft.dedup.TextDedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Byte-pair-encoding VOCABULARY INDUCTION trained in-engine (Sennrich,
 * Haddow & Birch 2016 — the merge-learning loop every BPE/GPT-2-style
 * tokenizer ships), plus application of the learned merges to the
 * corpus. This closes the "tokenize with a FILE vocab" gap: the engine
 * can now derive its own subword vocabulary from the corpus it is
 * about to pack.
 *
 * Training follows the standard industrial shape: word TYPES and their
 * corpus frequencies are counted distributed (one explode + hash agg),
 * the trainer then iterates over a BOUNDED top-K sample of types on
 * the driver (deterministic order: frequency desc, word asc — the same
 * bounded-sample pattern as `EmbeddingOps.kmeansCentroids`'s ≤4096-row
 * md5-ordered sample). Each merge step counts adjacent symbol pairs
 * weighted by word frequency, picks the argmax (count desc, then
 * lexicographic (left, right) — a total order, so no RNG and no
 * engine-dependent ties), and rewrites the vocabulary.
 *
 * Every step is integer + string arithmetic, so a DuckDB oracle
 * REPLAYS the whole trainer exactly ([[oracleTrainSql]] unrolls the
 * merge steps as CTE chains, the `KmeansOracles` discipline — no
 * baked-in merge literals) and replays ENCODING as a recursive CTE
 * that applies the derived merges rank by rank ([[oracleEncodeSql]]).
 *
 * Symbol representation: every symbol is individually bracketed by
 * control characters, `⟨s⟩` with ⟨ = U+001E and ⟩ = U+001F, so "merge
 * pair (l, r)" is literally `replace("⟨l⟩⟨r⟩" → "⟨lr⟩")`: a match
 * consumes only its OWN brackets, never a neighbour's, which makes
 * plain string replace (leftmost, non-overlapping, continue after the
 * replacement) EXACTLY Sennrich's merge rule — `aaaaa` under (a,a)
 * becomes [aa, aa, a], as the reference `re.sub` with \S-lookarounds
 * produces. (A single shared separator would instead eat the next
 * pair's boundary: [aa, a, a] — caught by spec before shipping.)
 * java.lang.String.replace and SQL replace() share these semantics.
 * Symbols can never contain the brackets — they are control chars,
 * filtered from words on both sides.
 *
 * Scale shape: the corpus-wide work is ONE token explode + hash
 * aggregation (training) and ONE map-side projection (encoding — the
 * merge chain is `numMerges` codegen'd string replaces inside a
 * `transform` lambda; no shuffle, no join, no driver state at encode
 * time). The driver holds only the ≤ topK sampled types and the merge
 * table.
 */
object Bpe {

  /** Symbol open bracket (U+001E record separator). */
  val Open: Char = '\u001E'
  /** Symbol close bracket (U+001F unit separator). */
  val Close: Char = '\u001F'
  private val O = Open.toString
  private val C = Close.toString

  final case class Merge(rank: Int, left: String, right: String,
      pairCount: Long)

  /** Unsigned UTF-8 byte comparison — Spark UTF8String / DuckDB binary
    * collation, which Java's UTF-16 compareTo does not match above the
    * BMP. */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** `⟨c1⟩⟨c2⟩…` character-symbol representation of a word. Iterates
    * CODE POINTS, not UTF-16 units — the engine's `regexp_replace(…,
    * '(.)', …)` seal matches per code point (Java regex and RE2 both),
    * so a char-level loop would split astral symbols on the driver but
    * not in the plan (caught by the "𝄞" spec). */
  def seal(word: String): String = {
    val sb = new java.lang.StringBuilder(word.length * 3)
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      sb.append(Open).appendCodePoint(cp).append(Close)
      i += Character.charCount(cp)
    }
    sb.toString
  }

  /** Symbols of a sealed representation. */
  private def unseal(sym: String): Array[String] =
    if (sym.isEmpty) Array.empty
    else sym.substring(1, sym.length - 1).split(C + O, -1)

  private val HexDigits = "0123456789ABCDEF"

  /** `⟨hh⟩⟨hh⟩…` BYTE-symbol representation: each UTF-8 byte of the
    * word as its two-UPPERCASE-hex-digit symbol — the GPT-2/tiktoken
    * alphabet (Radford et al. 2019 §2.2): 256 byte symbols cover EVERY
    * string, so there is no unk by construction. Hex digits are ASCII,
    * so the trainer's unsigned-byte argmax tie order, the engine's
    * UTF8String collation and DuckDB's binary ORDER BY agree for free
    * (the [[utf8Compare]] subtlety the char alphabet needs vanishes). */
  def sealBytes(word: String): String = {
    val bytes = word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(bytes.length * 4)
    var i = 0
    while (i < bytes.length) {
      sb.append(Open)
        .append(HexDigits.charAt((bytes(i) >> 4) & 0xf))
        .append(HexDigits.charAt(bytes(i) & 0xf))
        .append(Close)
      i += 1
    }
    sb.toString
  }

  /** Inverse of the byte alphabet: BPE symbols (concatenated hex byte
    * pairs) → UTF-8 bytes → string. Total on any [[trainBytes]] /
    * [[encodeWordBytes]] output — the round-trip anchor of the no-unk
    * property (spec round-trips non-ASCII and astral text byte-exactly). */
  def decodeByteSymbols(syms: Seq[String]): String = {
    val hexStr = syms.mkString
    val out = new Array[Byte](hexStr.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = ((Character.digit(hexStr.charAt(2 * i), 16) << 4) |
        Character.digit(hexStr.charAt(2 * i + 1), 16)).toByte
      i += 1
    }
    new String(out, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** The ASCII whitespace class, written out explicitly: Java's `\s`
    * includes \x0B where RE2's excludes it, so both the engine pattern
    * and the DuckDB oracle's pattern use this class and agree BY
    * CONSTRUCTION on every input (not just inputs that avoid the
    * divergent characters). */
  private val Ws = " \\t\\n\\x0B\\f\\r"

  /**
   * GPT-2's pre-tokenization regex (Radford et al. 2019 — the
   * `gpt2/encoder.py` pattern, reference `src/common/llm_matcher.py`'s
   * model lineage): contraction suffixes, then letter / digit /
   * other-punctuation runs each CARRYING one optional leading space
   * (" the" is one pretoken — the property that makes byte-BPE vocab
   * entries word-boundary-aware), then whitespace runs donating their
   * final space to the following token (`(?![^ \t…])` backtracks the
   * greedy run by one). Case-sensitive, no lowercasing.
   *
   * One DELIBERATE divergence from `encoder.py`: the whitespace class
   * is pinned to the explicit ASCII set [[Ws]] (engine/Java and the
   * RE2-based DuckDB oracle agree by construction — see [[Ws]]),
   * whereas GPT-2's Python `regex` module gives `\s` Unicode
   * semantics, so inputs containing Unicode whitespace (U+00A0,
   * U+2028, …) pretokenize differently here than under the original:
   * those characters land in the other-punctuation run instead of a
   * whitespace run. For ASCII-whitespace text (the overwhelming
   * production case) the streams are identical.
   */
  val Gpt2Pretok: String =
    s"'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^$Ws\\p{L}\\p{N}]+" +
      s"|[$Ws]+(?![^$Ws])|[$Ws]+"

  /** The GPT-2 pretoken ARRAY of a text column (marker-bracket
    * carriers dropped, as everywhere in this tokenizer family). The
    * alternation is total — every character lands in some pretoken —
    * so encode→decode round-trips the full text byte-exactly. */
  def pretokens(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(regexp_extract_all(c, lit(Gpt2Pretok), lit(0)),
      t => !t.contains(O) && !t.contains(C))

  /** [[wordSample]] over GPT-2 pretokens: top `topK` pretoken types by
    * (frequency desc, pretoken asc) — the same bounded driver collect,
    * with spaces/case preserved (pretokens are case-sensitive and
    * space-carrying by design). */
  def pretokenSample(docs: DataFrame, textCol: String,
      topK: Int): Seq[(String, Long)] =
    docs.select(explode(pretokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word").asc)
      .limit(topK)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Driver-side merge learning over a bounded (word, freq) sample.
    * Stops early if no adjacent pair remains (fully merged vocab). */
  def train(sample: Seq[(String, Long)], numMerges: Int): Seq[Merge] =
    trainSealed(sample.map { case (w, f) => (seal(w), f) }, numMerges)

  /** Byte-level merge learning (GPT-2 lineage): [[trainSealed]] over
    * the byte-sealed sample — the loop is shared with [[train]]; the
    * alphabet is a parameter of the sealing only. */
  def trainBytes(sample: Seq[(String, Long)], numMerges: Int): Seq[Merge] =
    trainSealed(sample.map { case (w, f) => (sealBytes(w), f) }, numMerges)

  /** The merge loop over an already-sealed vocabulary — shared by the
    * char-level ([[train]]) and byte-level ([[trainBytes]]) trainers:
    * the loop only ever sees bracketed symbols, so the alphabet is a
    * parameter of the SEALING, not of the learning.
    *
    * REFERENCE implementation (the semantics the DuckDB training
    * oracles replay CTE-for-CTE): each step recounts every adjacent
    * pair over the whole sample — O(numMerges × total symbols), which
    * is the model-axis scale wall at production (≥32k-merge) vocab
    * sizes. [[trainSealed]] (the default) computes the IDENTICAL merge
    * sequence incrementally; this one is kept as the spec-level parity
    * anchor (`BpeKernelSpec` proves fast ≡ reference on real samples). */
  private[graft] def trainSealedReference(sample: Seq[(String, Long)],
      numMerges: Int): Seq[Merge] = {
    require(numMerges > 0, "numMerges must be positive")
    var vocab = sample
    val out = Seq.newBuilder[Merge]
    var k = 0
    var done = false
    while (k < numMerges && !done) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      vocab.foreach { case (sym, f) =>
        val syms = unseal(sym)
        var i = 0
        while (i < syms.length - 1) {
          val key = (syms(i), syms(i + 1))
          counts.update(key, counts.getOrElse(key, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        // argmax: count desc, then lexicographic (left, right) asc in
        // UNSIGNED UTF-8 BYTE order — the collation Spark's UTF8String
        // and DuckDB's binary ORDER BY both use; Java String compareTo
        // (UTF-16 units) disagrees for supplementary-plane vs U+E000+
        // symbols, so the engine-portability claim needs the byte order
        val ((l, r), c) = counts.min(
          Ordering.fromLessThan[((String, String), Long)] {
            case (((a1, b1), n1), ((a2, b2), n2)) =>
              if (n1 != n2) n1 > n2
              else {
                val ca = utf8Compare(a1, a2)
                if (ca != 0) ca < 0 else utf8Compare(b1, b2) < 0
              }
          })
        out += Merge(k, l, r, c)
        val from = O + l + C + O + r + C
        val to = O + l + r + C
        vocab = vocab.map { case (s, f) => (s.replace(from, to), f) }
        k += 1
      }
    }
    out.result()
  }

  /** One leftmost non-overlapping merge pass over a symbol array —
    * exactly `String.replace("⟨l⟩⟨r⟩" → "⟨lr⟩")` on the sealed form
    * (match, emit the fused symbol, continue AFTER it). Shared by the
    * fast trainer and the serving kernel. */
  private def mergePass(syms: Array[String], l: String,
      r: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var p = 0
    while (p < syms.length) {
      if (p < syms.length - 1 && syms(p) == l && syms(p + 1) == r) {
        out += l + r
        p += 2
      } else {
        out += syms(p)
        p += 1
      }
    }
    out.toArray
  }

  private final case class Cand(l: String, r: String, c: Long)

  /** (count desc, left asc, right asc) in unsigned UTF-8 byte order —
    * [[trainSealedReference]]'s argmax as a heap comparator. */
  private val candOrder: java.util.Comparator[Cand] =
    new java.util.Comparator[Cand] {
      override def compare(a: Cand, b: Cand): Int = {
        if (a.c != b.c) java.lang.Long.compare(b.c, a.c)
        else {
          val cl = utf8Compare(a.l, b.l)
          if (cl != 0) cl else utf8Compare(a.r, b.r)
        }
      }
    }

  /** INCREMENTAL merge learning — the production-size trainer: same
    * merge sequence as [[trainSealedReference]] (bit-identical,
    * spec-proven on real samples), but each step touches only the
    * words that CONTAIN the chosen pair instead of recounting the
    * whole sample. Pair counts live in a hash map maintained by
    * per-word multiset diffs; the argmax is a lazy-invalidation
    * priority heap (every count change pushes a fresh candidate; a
    * popped candidate is valid iff its count still matches the map —
    * the standard BPE-trainer shape, cf. HuggingFace tokenizers'
    * `BpeTrainer`). Cost ≈ O(total symbols + merge work), independent
    * of numMerges × sample size, so a 32k–50k-merge GPT-2-class table
    * trains in seconds where the reference loop needs hours. */
  private def trainSealed(sample: Seq[(String, Long)],
      numMerges: Int): Seq[Merge] = {
    require(numMerges > 0, "numMerges must be positive")
    val words: Array[Array[String]] = sample.map(s => unseal(s._1)).toArray
    val freqs: Array[Long] = sample.map(_._2).toArray
    val counts = new java.util.HashMap[(String, String), java.lang.Long]()
    val wordsWith =
      new java.util.HashMap[(String, String), java.util.HashSet[Integer]]()
    val heap = new java.util.PriorityQueue[Cand](math.max(16,
      words.length), candOrder)

    def bump(p: (String, String), delta: Long, wi: Int,
        stillIn: Boolean): Unit = {
      val prev = counts.get(p)
      val nc = (if (prev == null) 0L else prev.longValue()) + delta
      if (nc <= 0L) counts.remove(p) else counts.put(p, nc)
      val set = wordsWith.get(p)
      if (stillIn) {
        if (set == null) {
          val s = new java.util.HashSet[Integer](); s.add(wi)
          wordsWith.put(p, s)
        } else set.add(wi)
      } else if (set != null) {
        set.remove(wi)
        if (set.isEmpty) wordsWith.remove(p)
      }
      if (nc > 0L) heap.add(Cand(p._1, p._2, nc))
    }

    // initial counts (overlapping adjacent positions, freq-weighted)
    var wi = 0
    while (wi < words.length) {
      val syms = words(wi)
      var i = 0
      while (i < syms.length - 1) {
        bump((syms(i), syms(i + 1)), freqs(wi), wi, stillIn = true)
        i += 1
      }
      wi += 1
    }

    val out = Seq.newBuilder[Merge]
    var k = 0
    while (k < numMerges && !heap.isEmpty) {
      val cand = heap.poll()
      val key = (cand.l, cand.r)
      val cur = counts.get(key)
      // stale candidates (count changed since push) are discarded; the
      // fresh candidate pushed at the change is still in the heap
      if (cur != null && cur.longValue() == cand.c) {
        out += Merge(k, cand.l, cand.r, cand.c)
        val affected = wordsWith.get(key)
        if (affected != null) {
          val it = affected.toArray(new Array[Integer](affected.size()))
          var a = 0
          while (a < it.length) {
            val w = it(a).intValue()
            val old = words(w)
            val now = mergePass(old, cand.l, cand.r)
            words(w) = now
            // multiset diff of adjacent pairs, freq-weighted
            val delta = new java.util.HashMap[(String, String), Array[Long]]()
            def acc(syms: Array[String], sign: Long): Unit = {
              var i = 0
              while (i < syms.length - 1) {
                val p = (syms(i), syms(i + 1))
                val d = delta.get(p)
                if (d == null) delta.put(p, Array(sign))
                else d(0) += sign
                i += 1
              }
            }
            acc(old, -1L)
            acc(now, +1L)
            val newPairs = new java.util.HashSet[(String, String)]()
            var i = 0
            while (i < now.length - 1) {
              newPairs.add((now(i), now(i + 1))); i += 1
            }
            val di = delta.entrySet().iterator()
            while (di.hasNext) {
              val e = di.next()
              val p = e.getKey
              val d = e.getValue()(0)
              val in = newPairs.contains(p)
              if (d != 0L) bump(p, d * freqs(w), w, stillIn = in)
              else if (!in) bump(p, 0L, w, stillIn = false)
            }
            a += 1
          }
        }
        k += 1
      }
    }
    out.result()
  }

  /** Reference (driver-side) application of a merge table to one word —
    * the same seal → rank-ordered replace → unseal chain the Column
    * version compiles into; spec-level parity anchor. */
  def encodeWord(word: String, merges: Seq[Merge]): Array[String] = {
    var s = seal(word)
    merges.foreach { m =>
      s = s.replace(O + m.left + C + O + m.right + C,
        O + m.left + m.right + C)
    }
    unseal(s)
  }

  /** [[encodeWord]] over the byte alphabet — the driver twin of the
    * byte-level Column encoder; `decodeByteSymbols(encodeWordBytes(w,
    * m)).sameElements(w)` for EVERY w and m (no unk). */
  def encodeWordBytes(word: String, merges: Seq[Merge]): Array[String] = {
    var s = sealBytes(word)
    merges.foreach { m =>
      s = s.replace(O + m.left + C + O + m.right + C,
        O + m.left + m.right + C)
    }
    unseal(s)
  }

  /** Bounded deterministic word-type sample: top `topK` types by
    * (frequency desc, word asc) over [[TextDedup.tokens]] — a ≤ topK-row
    * driver collect, the documented bounded-training-sample pattern. */
  def wordSample(docs: DataFrame, textCol: String, topK: Int): Seq[(String, Long)] =
    docs.select(explode(TextDedup.tokens(col(textCol))).as("word"))
      .where(!col("word").contains(O) && !col("word").contains(C))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word").asc)
      .limit(topK)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Train on the corpus and return the merge table as a DataFrame:
    * (rank, lhs, rhs, pair_count). */
  def trainedMergesDf(spark: SparkSession, docs: DataFrame, textCol: String,
      numMerges: Int, topK: Int): DataFrame =
    mergesToDf(spark, train(wordSample(docs, textCol, topK), numMerges))

  /** [[trainedMergesDf]] over the byte alphabet (same bounded sample —
    * the sealing, not the sampling, is what differs). */
  def trainedByteMergesDf(spark: SparkSession, docs: DataFrame,
      textCol: String, numMerges: Int, topK: Int): DataFrame =
    mergesToDf(spark,
      trainBytes(wordSample(docs, textCol, topK), numMerges))

  /** [[trainedByteMergesDf]] over GPT-2 PRETOKENS instead of
    * lowercased whitespace words — the full production composition
    * (pretokenize → UTF-8 bytes → merges): vocab entries carry their
    * leading space and case. Sampling differs, sealing and loop are
    * the shared [[sealBytes]]/[[trainSealed]]. */
  def trainedBytePretokMergesDf(spark: SparkSession, docs: DataFrame,
      textCol: String, numMerges: Int, topK: Int): DataFrame =
    mergesToDf(spark,
      trainBytes(pretokenSample(docs, textCol, topK), numMerges))

  private def mergesToDf(spark: SparkSession,
      merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.map(m => (m.rank, m.left, m.right, m.pairCount))
      .toDF("rank", "lhs", "rhs", "pair_count")
  }

  /** Fold a merge table over an already-sealed Column (codegen'd string
    * replaces) and unseal to the symbol array — shared by the char- and
    * byte-level encoders.
    *
    * SCALE LIMIT (by construction): the expression tree is `numMerges`
    * replace calls deep, so a production-size (≥32k-merge) table blows
    * whole-stage codegen's JVM method limits and Catalyst analysis long
    * before data is touched — guarded below. The byte-level serving
    * paths use the rank-sequential KERNEL ([[applySequential]] via
    * `GraftFunctions.bpe_byte_symbols`) instead, whose cost is
    * independent of the merge count; this fold remains the demo-size
    * char-level encoder and the kernel's spec-level parity anchor. */
  private def foldMerges(sealed0: org.apache.spark.sql.Column,
      merges: Seq[Merge]): org.apache.spark.sql.Column = {
    require(merges.size <= 512,
      s"foldMerges inlines one replace per merge into the plan; " +
        s"${merges.size} merges would exceed codegen/analysis limits — " +
        "use the kernel path (encodeDocsBytesPretokKernel / " +
        "GraftFunctions.bpe_byte_symbols) for production-size tables")
    val merged = merges.foldLeft(sealed0) { (cc, m) =>
      org.apache.spark.sql.functions.replace(cc,
        lit(O + m.left + C + O + m.right + C),
        lit(O + m.left + m.right + C))
    }
    split(trim(merged, O + C), C + O)
  }

  /** Column expression: the BPE symbol ARRAY of one word under `merges`
    * — seal, fold the merge chain (codegen'd string replaces), unseal. */
  private def encodeWordCol(w: org.apache.spark.sql.Column,
      merges: Seq[Merge]): org.apache.spark.sql.Column = {
    // (?s) DOTALL: Java's '.' excludes the line terminators U+0085/
    // U+2028/U+2029, which the \s+ tokenizer does NOT strip (Java \s
    // lacks them) — without DOTALL a word containing one is left
    // partially unsealed and the merge fold produces garbage symbols,
    // diverging from the driver seal() (a code-point loop) and the
    // DuckDB oracle (RE2 '.' excludes only \n, which \s does strip).
    foldMerges(regexp_replace(w, "(?s)(.)", O + "$1" + C), merges)
  }

  /** Byte-level Column encoder: `hex(encode(w, UTF-8))` is the
    * UPPERCASE hex of the word's UTF-8 bytes — the engine twin of
    * [[sealBytes]]; `(..)` brackets each byte's hex pair (the hex
    * string's length is always even, and hex digits are ASCII, so none
    * of the char alphabet's DOTALL/code-point subtleties apply). */
  private def encodeWordBytesCol(w: org.apache.spark.sql.Column,
      merges: Seq[Merge]): org.apache.spark.sql.Column =
    foldMerges(
      regexp_replace(hex(encode(w, "UTF-8")), "(..)", O + "$1" + C),
      merges)

  /** Per-document BPE token count under `merges` — the countExpr that
    * feeds [[SequencePacking.packCounted]]/[[SequencePacking.shardByTokenBudget]]
    * with TRAINED-tokenizer counts instead of the whitespace proxy. */
  def tokenCountCol(textCol: String, merges: Seq[Merge]): org.apache.spark.sql.Column = {
    val toks = filter(TextDedup.tokens(col(textCol)),
      t => !t.contains(O) && !t.contains(C))
    size(flatten(transform(toks, w => encodeWordCol(w, merges))))
  }

  /**
   * Apply a trained merge table to every document — map-side only.
   * Output: doc_id, n_bpe_tokens, tokens_md5 (md5 of all symbols in
   * document order joined by single spaces — the value-check digest).
   */
  def encodeDocs(docs: DataFrame, textCol: String, idCol: String,
      merges: Seq[Merge]): DataFrame =
    encodeDocsWith(docs, textCol, idCol, w => encodeWordCol(w, merges))

  /** [[encodeDocs]] over the byte alphabet — identical map-side shape
    * (one projection, `numMerges` codegen'd replaces per word, no
    * shuffle, no driver state at encode time). */
  def encodeDocsBytes(docs: DataFrame, textCol: String, idCol: String,
      merges: Seq[Merge]): DataFrame =
    encodeDocsWith(docs, textCol, idCol,
      w => encodeWordBytesCol(w, merges))

  /** Per-document PRETOK-BYTE token count under `merges` — the
    * production tokenizer's counts for
    * `SequencePacking.packCounted` (the byte twin of
    * [[tokenCountCol]]). */
  def tokenCountColBytesPretok(textCol: String,
      merges: Seq[Merge]): org.apache.spark.sql.Column =
    size(flatten(transform(pretokens(col(textCol)),
      w => encodeWordBytesCol(w, merges))))

  /** [[encodeDocsBytes]] over GPT-2 pretokens — the words differ, the
    * byte seal and the map-side merge fold are shared. */
  def encodeDocsBytesPretok(docs: DataFrame, textCol: String,
      idCol: String, merges: Seq[Merge]): DataFrame =
    encodeDocsWith(docs, textCol, idCol,
      w => encodeWordBytesCol(w, merges),
      words = Some(pretokens(col(textCol))))

  private def encodeDocsWith(docs: DataFrame, textCol: String,
      idCol: String,
      enc: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      words: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val toks = words.getOrElse(
      filter(TextDedup.tokens(col(textCol)),
        t => !t.contains(O) && !t.contains(C)))
    val encs = flatten(transform(toks, enc))
    docs.select(col(idCol).as("doc_id"), encs.as("__e"))
      .select(col("doc_id"),
        size(col("__e")).cast("long").as("n_bpe_tokens"),
        md5(array_join(col("__e"), " ")).as("tokens_md5"))
  }

  /** Persist the trained merge table (train-once/serve-many — the
    * `writeNbModel`/`writeIvfPqIndex` pattern): a single tiny parquet
    * holding (rank, lhs, rhs, pair_count). */
  def writeMerges(spark: SparkSession, docs: DataFrame, textCol: String,
      numMerges: Int, topK: Int, path: String): Unit =
    trainedMergesDf(spark, docs, textCol, numMerges, topK)
      .repartition(1).write.mode("overwrite").parquet(path)

  /** Load a persisted merge table in rank order — a ≤ numMerges-row
    * bounded collect. */
  def loadMerges(spark: SparkSession, path: String): Seq[Merge] =
    spark.read.parquet(path)
      .select("rank", "lhs", "rhs", "pair_count").orderBy("rank")
      .collect()
      .map(r => Merge(r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq

  /** [[encodeDocs]] under a persisted model — the stored merges are
    * exactly what the fold applies, so this is bit-identical to
    * encoding with the freshly trained table (same oracle). */
  def encodeFromModel(spark: SparkSession, docs: DataFrame,
      textCol: String, idCol: String, path: String): DataFrame =
    encodeDocs(docs, textCol, idCol, loadMerges(spark, path))

  /** [[writeMerges]] for the byte-level trainer — same tiny (rank,
    * lhs, rhs, pair_count) parquet layout ([[loadMerges]] reads both;
    * the symbols are hex byte pairs instead of characters). */
  def writeByteMerges(spark: SparkSession, docs: DataFrame,
      textCol: String, numMerges: Int, topK: Int, path: String): Unit =
    trainedByteMergesDf(spark, docs, textCol, numMerges, topK)
      .repartition(1).write.mode("overwrite").parquet(path)

  /** [[encodeDocsBytes]] under a persisted byte-merge table —
    * bit-identical to encoding with the freshly trained table. */
  def encodeBytesFromModel(spark: SparkSession, docs: DataFrame,
      textCol: String, idCol: String, path: String): DataFrame =
    encodeDocsBytes(docs, textCol, idCol, loadMerges(spark, path))

  /** The GPT-2 id assignment over a byte-merge table: ids 0–255 are
    * the 256 byte symbols in byte order, id 256+k is merge k's output
    * symbol — deterministic, gap-free, and total (every symbol any
    * encode can produce is either a base byte or a merge output, so id
    * lookup can never miss). This is the vocab file a training run
    * ships; (id, sym) pairs. */
  def byteVocab(merges: Seq[Merge]): Seq[(Long, String)] =
    (0 until 256).map(b => b.toLong -> f"$b%02X") ++
      merges.map(m => (256L + m.rank) -> (m.left + m.right))

  /** [[byteVocab]] as a DataFrame: (id, sym). */
  def byteVocabDf(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    byteVocab(merges).toDF("id", "sym")
  }

  /** Inverse of [[byteVocab]]'s id assignment: TOKEN IDS -> text — the
    * decode every training stack needs for inspection/round-trips.
    * Total on any id stream an encode can emit (ids 0-255 are the byte
    * symbols, 256+k merge k's output; unknown ids throw — an id outside
    * the vocab is a corrupt stream, not decodable content). Driver-side
    * (decode is an inspection/debug path, not a corpus operator). */
  def decodeIds(ids: Seq[Long], merges: Seq[Merge]): String = {
    val idToSym = byteVocab(merges).toMap
    decodeByteSymbols(ids.map { i =>
      idToSym.getOrElse(i,
        throw new IllegalArgumentException(s"unknown token id $i"))
    })
  }

  /** [[encodeDocsBytesPretok]] emitting TOKEN IDS instead of symbol
    * strings — the stream a training run actually consumes: pretokens
    * → byte symbols under the merge fold → [[byteVocab]] ids via a
    * broadcast-literal map (≤ 256 + numMerges entries, map-side, no
    * shuffle). Output: doc_id, n_bpe_tokens, ids_md5 (md5 of the
    * space-joined decimal ids in document order). */
  def encodeDocsBytesPretokIds(docs: DataFrame, textCol: String,
      idCol: String, merges: Seq[Merge]): DataFrame = {
    val symToId = byteVocab(merges).map { case (i, s) => (s, i) }.toMap
    val syms = flatten(transform(pretokens(col(textCol)),
      w => encodeWordBytesCol(w, merges)))
    val ids = transform(syms,
      s => element_at(typedlit(symToId), s).cast("string"))
    docs.select(col(idCol).as("doc_id"),
      size(ids).cast("long").as("n_bpe_tokens"),
      md5(array_join(ids, " ")).as("ids_md5"))
  }

  /** [[writeMerges]] for the pretokenized byte trainer — same tiny
    * parquet layout. */
  def writeBytePretokMerges(spark: SparkSession, docs: DataFrame,
      textCol: String, numMerges: Int, topK: Int, path: String): Unit =
    trainedBytePretokMergesDf(spark, docs, textCol, numMerges, topK)
      .repartition(1).write.mode("overwrite").parquet(path)

  /** [[encodeDocsBytesPretok]] under a persisted merge table —
    * bit-identical to encoding with the freshly trained table. */
  def encodeBytesPretokFromModel(spark: SparkSession, docs: DataFrame,
      textCol: String, idCol: String, path: String): DataFrame =
    encodeDocsBytesPretok(docs, textCol, idCol, loadMerges(spark, path))

  // ------------------------------------ kernel serving (production size)

  private val BlobField: Char = '\u0001'
  private val BlobEntry: Char = '\u0002'
  private val BlobSect: Char = '\u0003'

  /** Model-blob form of a merge table: `left␁right` entries joined by
    * ␂ in RANK ORDER — the string literal that rides the encode plan
    * (the `UnigramLm.blob` transport: cluster-safe, no driver state,
    * no side files; ~12 bytes/merge, so a 50k-merge GPT-2-class table
    * is a sub-MB literal). Symbols are hex byte pairs — separator-free
    * by construction. */
  def mergeBlob(merges: Seq[Merge]): String =
    merges.map(m => m.left + BlobField + m.right)
      .mkString(BlobEntry.toString)

  /** [[mergeBlob]] with an explicit symbol-to-id section (after U+0003):
    * the transport for EXTERNALLY-LOADED vocabularies
    * ([[Gpt2Artifacts.load]]) whose id assignment differs from
    * [[byteVocab]]'s. The section is AUTHORITATIVE, not an overlay:
    * a kernel-producible symbol the map does not cover serves no id —
    * [[wordByteIdsBlob]] throws on it — rather than silently falling
    * back to the derived assignment (which can collide with the
    * file's real id for a different token). A complete artifact
    * (every base byte + every merge output mapped — what
    * export/published files carry) never hits the guard. */
  def mergeBlobWithIds(merges: Seq[Merge],
      symToId: Map[String, Long]): String =
    mergeBlob(merges) + BlobSect +
      symToId.toSeq.sortBy(_._1)
        .map { case (s, i) => s + BlobField + i }
        .mkString(BlobEntry.toString)

  /** [[mergeBlobWithIds]] with a third section carrying SPECIAL TOKENS
    * (`<|endoftext|>`-class markers): raw special string ␁ id, joined
    * by ␂. Specials are matched on the TEXT before pretokenization
    * ([[textIdsBlob]]) — they never merge across, and their ids come
    * from this section, not from the byte vocab. Special strings must
    * not contain the blob separators or the symbol brackets (control
    * chars — no published special does). */
  def mergeBlobWithSpecials(merges: Seq[Merge],
      symToId: Map[String, Long],
      specials: Seq[(String, Long)]): String = {
    specials.foreach { case (sp, _) =>
      require(sp.nonEmpty && !sp.exists(c =>
        c == BlobField || c == BlobEntry || c == BlobSect ||
          c == Open || c == Close),
        s"special token contains a reserved control character: '$sp'")
    }
    mergeBlobWithIds(merges, symToId) + BlobSect +
      specials.map { case (sp, i) => sp + BlobField + i }
        .mkString(BlobEntry.toString)
  }

  /** The 256 two-hex-digit byte symbols, interned once. */
  private val HexPair: Array[String] =
    Array.tabulate(256)(b => f"$b%02X")

  /** Array form of [[sealBytes]]: the word's UTF-8 bytes as hex-pair
    * symbols (no bracket string — the kernel works on symbol arrays). */
  private def byteSymbolArray(word: String): Array[String] = {
    val bytes = word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[String](bytes.length)
    var i = 0
    while (i < bytes.length) {
      out(i) = HexPair(bytes(i) & 0xff)
      i += 1
    }
    out
  }

  /** Parsed serving model: pair → ascending merge ranks (a trained
    * table holds each pair once; the ranks LIST keeps the kernel
    * exactly sequential even for adversarial tables where a later
    * merge re-creates an earlier pair), plus the [[byteVocab]] symbol
    * → id map (bases first, merge outputs after — later-rank
    * duplicates overwrite, exactly `byteVocab(merges).toMap`). */
  /** Open-addressed long→ranks hash table (linear probing, power-of-2
    * capacity, load ≤ 0.5) — the pair table of [[MergeModel]]. Hand
    * rolled because `java.util.HashMap[java.lang.Long, _]` BOXES every
    * probe key (Long.valueOf allocates beyond ±127), and the serving
    * kernel probes once per adjacent pair per application pass; this
    * keeps the hot loop allocation-free. Write-once at parse time,
    * read-only afterwards (shared across tasks). */
  private[Bpe] final class LongRanksMap(capacityHint: Int) {
    private val cap: Int = {
      var c = 16
      while (c < capacityHint * 2) c <<= 1
      c
    }
    private val mask = cap - 1
    private val keys = new Array[Long](cap)
    private val used = new Array[Boolean](cap)
    private val vals = new Array[Array[Int]](cap)
    @inline private def slot(k: Long): Int =
      (((k * -7046029254386353131L) >>> 40).toInt ^ k.toInt) & mask
    /** Append `rank` to the key's ascending rank list. */
    def append(k: Long, rank: Int): Unit = {
      var i = slot(k)
      while (used(i) && keys(i) != k) i = (i + 1) & mask
      if (!used(i)) { used(i) = true; keys(i) = k; vals(i) = Array(rank) }
      else vals(i) = vals(i) :+ rank
    }
    /** The key's rank list, or null. */
    def get(k: Long): Array[Int] = {
      var i = slot(k)
      while (used(i)) {
        if (keys(i) == k) return vals(i)
        i = (i + 1) & mask
      }
      null
    }
  }

  /** Parsed serving model over INTERNED integer symbols: every symbol
    * string that can participate in the table (the 256 bases first —
    * so byte value == interned int — then each merge's operands and
    * output, same string → same int) gets a dense int; the pair→ranks
    * table is keyed by the packed (left<<32 | right) LONG, so the hot
    * loop's probes are allocation-free primitive lookups instead of
    * per-probe string concat + hash. Interning happens ONCE at parse
    * time; the model is immutable afterwards (shared across tasks). */
  final class MergeModel private[Bpe] (
      entries: Array[(String, String)]) {
    private[Bpe] val symToInt =
      new java.util.HashMap[String, Integer](entries.length * 3 + 512)
    private val symsBuf = new scala.collection.mutable.ArrayBuffer[String](
      entries.length * 2 + 256)
    private def intern(sym: String): Int = {
      val hit = symToInt.get(sym)
      if (hit != null) hit.intValue()
      else {
        val id = symsBuf.length
        symsBuf += sym
        symToInt.put(sym, id)
        id
      }
    }
    private[Bpe] val leftInt = new Array[Int](entries.length)
    private[Bpe] val rightInt = new Array[Int](entries.length)
    private[Bpe] val outInt = new Array[Int](entries.length)
    /** packed (left, right) int pair → ascending merge ranks. */
    private[Bpe] val ranks =
      new LongRanksMap(math.max(16, entries.length))
    locally {
      var b = 0
      while (b < 256) { intern(HexPair(b)); b += 1 }
      var i = 0
      while (i < entries.length) {
        val (l, r) = entries(i)
        val li = intern(l)
        val ri = intern(r)
        leftInt(i) = li
        rightInt(i) = ri
        outInt(i) = intern(l + r)
        ranks.append((li.toLong << 32) | ri.toLong, i)
        i += 1
      }
    }
    /** interned int → symbol string. */
    private[Bpe] val intToSym: Array[String] = symsBuf.toArray
    /** Special tokens (blob section 3), LONGEST-FIRST — the match
      * precedence of [[textIdsBlob]] (ties by string for determinism).
      * Set once by [[parseBlob]]; empty for ordinary models. */
    private[Bpe] var specialStrs: Array[String] = Array.empty
    private[Bpe] var specialIds: Array[Long] = Array.empty
    /** [[byteVocab]] id per interned symbol (−1 = no id; bases first,
      * merge outputs after — later-rank duplicates overwrite, exactly
      * `byteVocab(merges).toMap`); blob id-override section replaces. */
    private[Bpe] val idOf: Array[Long] = {
      val a = Array.fill(intToSym.length)(-1L)
      var b = 0
      while (b < 256) { a(b) = b.toLong; b += 1 }
      var i = 0
      while (i < entries.length) { a(outInt(i)) = 256L + i; i += 1 }
      a
    }
    def size: Int = entries.length
  }

  private def parseBlob(b: String): MergeModel = {
    // sections: merges [␃ ids [␃ specials]]
    val parts = b.split(BlobSect.toString, -1)
    val mergePart = parts(0)
    val entries =
      if (mergePart.isEmpty) Array.empty[(String, String)]
      else mergePart.split(BlobEntry).map { e =>
        val i = e.indexOf(BlobField.toInt)
        (e.substring(0, i), e.substring(i + 1))
      }
    val model = new MergeModel(entries)
    if (parts.length > 1) { // external id assignment REPLACES byteVocab's
      // The id section is authoritative: every interned symbol the
      // file's vocab does NOT cover must read −1, not the derived
      // default — a byteVocab-derived fallback id can collide with the
      // file's real assignment of a DIFFERENT token, so a trimmed or
      // partial external vocab would serve silently wrong ids instead
      // of hitting wordByteIdsBlob's corrupt-blob guard (round-14
      // advice).
      java.util.Arrays.fill(model.idOf, -1L)
      val idPart = parts(1)
      if (idPart.nonEmpty) idPart.split(BlobEntry).foreach { e =>
        val i = e.indexOf(BlobField.toInt)
        val sym = e.substring(0, i)
        val known = model.symToInt.get(sym)
        // an override for a symbol the table can never produce is
        // unreachable — dropped (parse-time, single-threaded; the
        // model never interns after construction)
        if (known != null)
          model.idOf(known.intValue()) = e.substring(i + 1).toLong
      }
    }
    if (parts.length > 2 && parts(2).nonEmpty) { // special tokens
      val sp = parts(2).split(BlobEntry).map { e =>
        val i = e.indexOf(BlobField.toInt)
        (e.substring(0, i), e.substring(i + 1).toLong)
      }.sortBy { case (s, _) => (-s.length, s) } // longest-first
      model.specialStrs = sp.map(_._1)
      model.specialIds = sp.map(_._2)
    }
    model
  }

  private val models = new BlobMemo(parseBlob)

  /** Resolve a blob to its parsed model: `blobRef` is the raw argument
    * object (reference-compared), `blobStr` is evaluated only on a
    * memo miss ([[BlobMemo]]). */
  def modelForBlob(blobRef: AnyRef, blobStr: => String): MergeModel =
    models(blobRef, blobStr)

  /**
   * Apply the merge table to one word's byte symbols — EXACTLY the
   * sequential rank-order replace fold ([[encodeWordBytes]] /
   * [[foldMerges]]), computed SPARSELY: repeatedly find the smallest
   * rank GREATER than the last applied one whose pair is adjacent
   * somewhere in the word, apply that merge in one leftmost
   * non-overlapping pass, and continue.
   *
   * Equivalence to the fold: between two applied ranks the word is
   * unchanged, and every skipped rank's pair is absent from it (the
   * minimum over present pairs would have found it), so each skipped
   * rank is exactly a no-op replace pass of the fold — bit-identical
   * output at ANY table size, including adversarial tables where a
   * later merge re-creates an earlier pair (the per-pair ranks list +
   * the `> cur` cursor replay re-learned ranks and NEVER revisit a
   * passed one, unlike GPT-2's min-rank-greedy loop, which would).
   *
   * Cost: ≤ len−1 applications × O(len) pair lookups — O(len²)
   * PRIMITIVE probes per word (packed-long keys over interned symbol
   * ints: no per-probe allocation), INDEPENDENT of the merge count.
   * This is the serving path that survives a production 50k-merge
   * table; the fold is `numMerges` nested replaces and dies at
   * analysis time. The quadratic is in the INPUT length — the serving
   * entry points call [[applyIntsBounded]], which chunks overlong
   * pretokens at [[MaxPretokenBytes]] so per-document work stays
   * linear.
   */
  private[Bpe] def applyInts(syms0: Array[Int],
      model: MergeModel): Array[Int] = {
    var syms = syms0
    var cur = -1
    var go = syms.length > 1
    while (go) {
      var best = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        if (syms(i) >= 0 && syms(i + 1) >= 0) {
          val rs = model.ranks.get(
            (syms(i).toLong << 32) | syms(i + 1).toLong)
          if (rs != null) {
            var j = 0
            while (j < rs.length && rs(j) <= cur) j += 1
            if (j < rs.length && rs(j) < best) best = rs(j)
          }
        }
        i += 1
      }
      if (best == Int.MaxValue) go = false
      else {
        // one leftmost non-overlapping pass of merge `best`
        val l = model.leftInt(best)
        val r = model.rightInt(best)
        val o = model.outInt(best)
        val out = new Array[Int](syms.length)
        var n = 0
        var p = 0
        while (p < syms.length) {
          if (p < syms.length - 1 && syms(p) == l && syms(p + 1) == r) {
            out(n) = o; n += 1; p += 2
          } else {
            out(n) = syms(p); n += 1; p += 1
          }
        }
        syms = java.util.Arrays.copyOf(out, n)
        cur = best
        go = syms.length > 1
      }
    }
    syms
  }

  /** String-array face of [[applyInts]] — the spec-level entry point.
    * Symbols the model never interned (possible only for caller-built
    * arrays, never for [[byteSymbolArray]] output) get LOCAL negative
    * sentinels: they can match no merge pair (all interned pairs are
    * non-negative) and pass through verbatim, without mutating the
    * shared model. */
  def applySequential(syms0: Array[String],
      model: MergeModel): Array[String] = {
    val ints = new Array[Int](syms0.length)
    var extra: scala.collection.mutable.ArrayBuffer[String] = null
    var i = 0
    while (i < syms0.length) {
      val known = model.symToInt.get(syms0(i))
      if (known != null) ints(i) = known.intValue()
      else {
        if (extra == null)
          extra = new scala.collection.mutable.ArrayBuffer[String](4)
        extra += syms0(i)
        ints(i) = -extra.length // sentinel −1, −2, …
      }
      i += 1
    }
    applyInts(ints, model).map { x =>
      if (x >= 0) model.intToSym(x) else extra(-x - 1)
    }
  }

  /** The word's UTF-8 bytes as interned symbol ints (bases are
    * interned 0–255 in byte order, so this IS the byte array). */
  private def byteSymbolInts(word: String): Array[Int] = {
    val bytes = word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[Int](bytes.length)
    var i = 0
    while (i < bytes.length) { out(i) = bytes(i) & 0xff; i += 1 }
    out
  }

  /**
   * PER-PRETOKEN WORK BOUND (round-14 verdict — the tokenizer's last
   * open scale axis, the INPUT axis): [[applyInts]] is O(len²)
   * primitive probes per pretoken, and crawl corpora contain megabyte
   * unbroken letter/number runs (minified JS, base64 blobs) that GPT-2
   * pretokenization emits as ONE pretoken — a single pathological
   * document would wedge a task for ~10¹² probes. Pretokens longer
   * than this many BYTES are split into fixed chunks before the
   * kernel and each chunk encoded independently, capping the work at
   * O(len · MaxPretokenBytes) — linear in the document.
   *
   * Semantics of the bound (the HF `max_input_chars_per_word`
   * convention, applied to byte-BPE): merges never span a chunk
   * boundary, so a > 16 KiB unbroken run tokenizes as its chunks'
   * independent encodings. No published vocabulary carries a merge
   * output anywhere near 2¹⁴ bytes (GPT-2/HF byte-BPE tokens top out
   * around 10²), so for real models the boundary can only interrupt a
   * merge that would not exist — the divergence is confined to
   * adversarial/synthetic tables, and EVERY sub-bound pretoken (all of
   * testdata, all published-vocab text) encodes bit-identically to the
   * unbounded fold. Pinned by `BpeKernelSpec`'s overlong-run specs.
   */
  val MaxPretokenBytes: Int = 1 << 14

  /** [[applyInts]] in ≤ [[MaxPretokenBytes]]-symbol chunks — the
    * bounded kernel the serving entry points call. Sub-bound inputs
    * (the overwhelming case) take the untouched single-chunk path. */
  private[Bpe] def applyIntsBounded(syms0: Array[Int],
      model: MergeModel): Array[Int] = {
    if (syms0.length <= MaxPretokenBytes) applyInts(syms0, model)
    else {
      val out = new scala.collection.mutable.ArrayBuffer[Int](
        syms0.length / 2)
      var off = 0
      while (off < syms0.length) {
        val end = math.min(off + MaxPretokenBytes, syms0.length)
        out ++= applyInts(
          java.util.Arrays.copyOfRange(syms0, off, end), model)
        off = end
      }
      out.toArray
    }
  }

  /** Kernel entry: byte-BPE SYMBOLS of one word under a blob model
    * (work bounded per [[MaxPretokenBytes]]). */
  def wordByteSymbolsBlob(word: String, blobRef: AnyRef,
      blobStr: => String): Array[String] = {
    val model = modelForBlob(blobRef, blobStr)
    applyIntsBounded(byteSymbolInts(word), model).map(model.intToSym)
  }

  /** Kernel entry: byte-BPE TOKEN IDS of one word under a blob model —
    * [[byteVocab]]'s assignment (or the blob's id-override section),
    * total by construction (every symbol the kernel can produce is a
    * base byte or a merge output); work bounded per
    * [[MaxPretokenBytes]]. */
  def wordByteIdsBlob(word: String, blobRef: AnyRef,
      blobStr: => String): Array[Long] = {
    val model = modelForBlob(blobRef, blobStr)
    val out = new scala.collection.mutable.ArrayBuffer[Long](
      math.max(4, word.length))
    appendWordIds(word, model, out)
    out.toArray
  }

  /** [[Gpt2Pretok]] compiled once — the kernel-side pretokenizer of
    * [[textIdsBlob]]. java.util.regex successive `find()` is exactly
    * `regexp_extract_all`'s semantics (same engine), so the streams
    * agree with the Column [[pretokens]] path by construction. */
  private val Gpt2PretokPattern: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(Gpt2Pretok)

  /** Ids of one pretoken appended to `out` — the shared tail of
    * [[wordByteIdsBlob]] and [[textIdsBlob]] (bounded kernel + the
    * id-coverage guard). */
  private def appendWordIds(word: String, model: MergeModel,
      out: scala.collection.mutable.ArrayBuffer[Long]): Unit = {
    val syms = applyIntsBounded(byteSymbolInts(word), model)
    var i = 0
    while (i < syms.length) {
      val id = model.idOf(syms(i))
      if (id < 0L) throw new IllegalStateException(
        s"byte-BPE symbol without a vocab id: '${model.intToSym(syms(i))}'" +
          " — impossible for kernel-produced symbols; the blob is corrupt")
      out += id
      i += 1
    }
  }

  /**
   * TEXT-level id kernel with SPECIAL-TOKEN support (round-14 verdict
   * ask #2 — serving a published tokenizer VERBATIM on real corpora):
   * the text is first split on the model's special tokens (leftmost
   * occurrence wins; at equal positions the LONGEST special — the HF
   * added-token precedence), each special emits its own id from the
   * blob's specials section, and the text BETWEEN specials goes
   * through GPT-2 pretokenization + the bounded byte-BPE kernel.
   * Specials never merge across — a special is a hard segment
   * boundary, exactly `tokenizers`' added-token semantics.
   *
   * Pretokenization happens IN the kernel (same Java regex the Column
   * path compiles to), so one StaticInvoke serves the whole document;
   * marker-bracket carriers are dropped exactly as [[pretokens]] does.
   * Models without specials degrade to pretokenize + encode — the
   * plain [[encodeDocsBytesPretokIdsKernel]] stream.
   */
  def textIdsBlob(text: String, blobRef: AnyRef,
      blobStr: => String): Array[Long] = {
    val model = modelForBlob(blobRef, blobStr)
    val out = new scala.collection.mutable.ArrayBuffer[Long](
      math.max(16, text.length / 3))
    val specials = model.specialStrs
    def encodeSegment(seg: CharSequence): Unit = {
      val m = Gpt2PretokPattern.matcher(seg)
      while (m.find()) {
        val w = m.group()
        if (w.indexOf(Open.toInt) < 0 && w.indexOf(Close.toInt) < 0)
          appendWordIds(w, model, out)
      }
    }
    if (specials.isEmpty) encodeSegment(text)
    else {
      // Per-special next-occurrence memo: indexOf re-runs only after
      // the cached occurrence is consumed or passed, so total scan
      // work is O(nSpecials × len) for ANY segment count — without it
      // a document with many special occurrences re-scans the tail
      // once per segment per absent special (the same input-axis
      // hazard class as the pretoken bound).
      val nextIdx = new Array[Int](specials.length)
      var s = 0
      while (s < specials.length) {
        nextIdx(s) = text.indexOf(specials(s)); s += 1
      }
      var pos = 0
      while (pos < text.length) {
        // earliest cached occurrence at/after pos; specials are stored
        // longest-first, so `<` keeps the longer match on position ties
        var bestIdx = -1
        var bestSp = -1
        s = 0
        while (s < specials.length) {
          if (nextIdx(s) >= 0 && nextIdx(s) < pos)
            nextIdx(s) = text.indexOf(specials(s), pos)
          val idx = nextIdx(s)
          if (idx >= 0 && (bestIdx < 0 || idx < bestIdx)) {
            bestIdx = idx; bestSp = s
          }
          s += 1
        }
        if (bestIdx < 0) {
          encodeSegment(text.subSequence(pos, text.length))
          pos = text.length
        } else {
          if (bestIdx > pos)
            encodeSegment(text.subSequence(pos, bestIdx))
          out += model.specialIds(bestSp)
          pos = bestIdx + specials(bestSp).length
        }
      }
    }
    out.toArray
  }

  /** [[encodeWordBytes]] through the kernel structures — the driver
    * twin of the Column kernel (spec parity anchor at table sizes the
    * replace fold cannot reach). */
  def encodeWordBytesKernel(word: String, merges: Seq[Merge]): Array[String] =
    applySequential(byteSymbolArray(word),
      parseBlob(mergeBlob(merges)))

  /** [[encodeDocsBytes]] served through the KERNEL — bit-identical
    * output (same oracle), one codegen'd StaticInvoke per word instead
    * of a numMerges-deep replace chain; still map-side only. */
  def encodeDocsBytesKernel(docs: DataFrame, textCol: String,
      idCol: String, merges: Seq[Merge]): DataFrame = {
    val b = lit(mergeBlob(merges))
    encodeDocsWith(docs, textCol, idCol,
      w => graft.functions.GraftFunctions.bpe_byte_symbols(w, b))
  }

  /** [[encodeDocsBytesPretok]] served through the KERNEL —
    * bit-identical output (same oracle); the PRODUCTION serving path:
    * survives ≥32k-merge tables where the fold dies at plan analysis. */
  def encodeDocsBytesPretokKernel(docs: DataFrame, textCol: String,
      idCol: String, merges: Seq[Merge]): DataFrame = {
    val b = lit(mergeBlob(merges))
    encodeDocsWith(docs, textCol, idCol,
      w => graft.functions.GraftFunctions.bpe_byte_symbols(w, b),
      words = Some(pretokens(col(textCol))))
  }

  /** [[encodeDocsBytesPretokIds]] served through the ID KERNEL —
    * bit-identical output (same oracle); ids come from the model's own
    * vocab map instead of a plan-literal map lookup per token. */
  def encodeDocsBytesPretokIdsKernel(docs: DataFrame, textCol: String,
      idCol: String, merges: Seq[Merge]): DataFrame = {
    val b = lit(mergeBlob(merges))
    val ids = flatten(transform(pretokens(col(textCol)),
      w => graft.functions.GraftFunctions.bpe_byte_ids(w, b)))
    docs.select(col(idCol).as("doc_id"),
      size(ids).cast("long").as("n_bpe_tokens"),
      md5(array_join(transform(ids, i => i.cast("string")), " "))
        .as("ids_md5"))
  }

  /** [[tokenCountColBytesPretok]] through the KERNEL — the production
    * tokenizer's counts for `SequencePacking.packCounted` at any table
    * size. */
  def tokenCountColBytesPretokKernel(textCol: String,
      merges: Seq[Merge]): org.apache.spark.sql.Column = {
    val b = lit(mergeBlob(merges))
    size(flatten(transform(pretokens(col(textCol)),
      w => graft.functions.GraftFunctions.bpe_byte_symbols(w, b))))
  }

  /** [[encodeBytesPretokFromModel]] through the KERNEL — bit-identical
    * to encoding with the freshly trained table (same oracle). */
  def encodeBytesPretokFromModelKernel(spark: SparkSession,
      docs: DataFrame, textCol: String, idCol: String,
      path: String): DataFrame =
    encodeDocsBytesPretokKernel(docs, textCol, idCol,
      loadMerges(spark, path))

  // ------------------------------------------------ oracle SQL emission

  private val oToks =
    raw"""list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')"""

  /** RE2 form of [[Gpt2Pretok]]: RE2 has no lookahead, so the
    * whitespace-donates-last-space alternative is DROPPED here (the
    * final `[ \t…]+` absorbs whole runs) and [[oPretoks]] re-applies
    * the donation as a list rewrite — the two-step composition is
    * semantically identical to the Java pattern's backtracking (spec
    * asserts the engine/oracle streams agree token-for-token). Single
    * quotes doubled for embedding in a SQL literal. */
  private val oPretokRe =
    (raw"""'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+""" +
      raw"""| ?[^ \t\n\x0B\f\r\p{L}\p{N}]+|[ \t\n\x0B\f\r]+""")
      .replace("'", "''")

  private val oWsRun = """^[ \t\n\x0B\f\r]+$"""

  /** DuckDB list expression over `text` producing the GPT-2 pretoken
    * stream: extract with the lookahead-free pattern, then rewrite
    * each interior whitespace run of length ≥ 2 — the run keeps all
    * but its last character; a trailing LITERAL SPACE moves onto the
    * following token (GPT-2's `\s+(?!\S)` backtrack), any other
    * trailing whitespace character stands alone (it cannot attach —
    * the ` ?` in the token alternatives matches only 0x20).
    *
    * The donation RE-TOKENIZES instead of concatenating: when the
    * recipient is a contraction token (the lookahead-free pattern
    * matches `'s` etc. as one token after a consumed run, where the
    * engine's backtracked stream produces `[ '][s]`), a plain
    * `' ' || x` would yield the non-engine token ` 's` — the round-13
    * advice divergence, empirically confirmed in DuckDB. And the
    * repair must look ONE TOKEN FURTHER: a contraction recipient whose
    * letters continue into a following letter run (`"  'da"`) must
    * re-join them — the engine sees ` 'da` as `[ '][da]`, while the
    * lookahead-free extraction had already split it as `['d][a]`
    * (found by the randomized generator, not by the advice). So the
    * donation branch re-extracts `' ' || x` (plus the following
    * letter run when x is a contraction token abutting one, with that
    * run dropped as consumed); for every non-contraction recipient —
    * letter / digit / punctuation runs — re-extraction returns the
    * single token ` x`, unchanged from concatenation. Parity spec'd
    * by `BpePretokOracleParitySpec`'s randomized generator (which
    * includes contractions after multi-space runs) and re-confirmed
    * against real DuckDB by `tools/pretok_parity.py`; standing gate:
    * the `bpe_pretok_stream` oracle query. */
  private val oContractions =
    "('''s', '''t', '''re', '''ve', '''m', '''ll', '''d')"
  private val oLetterRun = """^\p{L}+$"""

  private val oPretoks: String = oPretoksOf("text")

  /** [[oPretoks]] over an arbitrary source expression (the specials
    * oracle pretokenizes SEGMENTS between special markers). */
  private def oPretoksOf(src: String): String = {
    val p0 = s"regexp_extract_all($src, '$oPretokRe')"
    s"""flatten(list_transform($p0, (x, i) ->
      CASE
        WHEN regexp_matches(x, '$oWsRun') AND length(x) >= 2
             AND i < len($p0)
          THEN CASE WHEN x[-1] = ' ' THEN [x[1:-2]]
                    ELSE [x[1:-2], x[-1]] END
        WHEN i > 1 AND regexp_matches(list_extract($p0, i - 1), '$oWsRun')
             AND length(list_extract($p0, i - 1)) >= 2
             AND list_extract($p0, i - 1)[-1] = ' '
          THEN CASE
            WHEN x IN $oContractions AND i < len($p0)
                 AND regexp_matches(list_extract($p0, i + 1), '$oLetterRun')
              THEN regexp_extract_all(
                ' ' || x || list_extract($p0, i + 1), '$oPretokRe')
            ELSE regexp_extract_all(' ' || x, '$oPretokRe')
          END
        WHEN i > 2 AND regexp_matches(x, '$oLetterRun')
             AND list_extract($p0, i - 1) IN $oContractions
             AND regexp_matches(list_extract($p0, i - 2), '$oWsRun')
             AND length(list_extract($p0, i - 2)) >= 2
             AND list_extract($p0, i - 2)[-1] = ' '
          THEN []
        ELSE [x]
      END))"""
  }

  /** The engine's GPT-2 pretoken stream of every document as an
    * oracle-checkable mart: token count + order-preserving digest
    * (U+0001-joined — pretokens CARRY spaces, so a space join would be
    * ambiguous). Paired with [[oraclePretokenStreamSql]] this is a
    * standing engine-vs-DuckDB PRETOKENIZATION parity gate: the
    * lookahead-free RE2 rewrite ([[oPretoks]]) is the subtlest piece
    * of the tokenizer oracles, and every byte-pretok oracle inherits
    * its stream. */
  def pretokenStreamDf(docs: DataFrame): DataFrame = {
    val toks = pretokens(col("text"))
    docs.select(col("doc_id"),
      size(toks).cast("long").as("n_pretokens"),
      md5(array_join(toks, "\u0001")).as("pretoks_md5"))
  }

  /** DuckDB twin of [[pretokenStreamDf]] (the [[oPretoks]] rewrite +
    * the engine's marker-carrier filter). */
  def oraclePretokenStreamSql: String =
    s"""SELECT doc_id,
  CAST(len(list_filter($oPretoks,
    x -> strpos(x, chr(30)) = 0 AND strpos(x, chr(31)) = 0)) AS BIGINT)
    AS n_pretokens,
  -- array_to_string([]) is NULL in DuckDB where Spark's array_join
  -- gives '' — coalesce for the empty-document row
  md5(coalesce(array_to_string(list_filter($oPretoks,
    x -> strpos(x, chr(30)) = 0 AND strpos(x, chr(31)) = 0), chr(1)), ''))
    AS pretoks_md5
FROM documents ORDER BY doc_id"""

  /** The merge-step CTE chain shared by the char- and byte-level
    * oracles (each replaying [[wordSample]] + its trainer): per step k
    * the pair counts (`p{k}`), the argmax merge (`m{k}`) and the
    * rewritten vocab (`v{k}`), plus the `allm(rank, lhs, rhs,
    * pair_count)` union — the learning loop is alphabet-agnostic, only
    * the sealed `v0` differs. */
  private def mergeSteps(numMerges: Int): (String, String) = {
    // v{k} and m{k} are MATERIALIZED: each vocab state is referenced
    // twice (pair counting and the rewrite), so DuckDB's default CTE
    // inlining would expand the chain 2^numMerges times
    val steps = (1 to numMerges).map { k =>
      s"""s$k AS (SELECT freq, string_split(trim(sym, '$O$C'), '$C$O') AS syms FROM v${k - 1}),
p$k AS (SELECT syms[i] AS lhs, syms[i + 1] AS rhs, CAST(sum(freq) AS BIGINT) AS cnt
        FROM s$k, unnest(range(1, len(syms))) AS u(i)
        GROUP BY 1, 2),
m$k AS MATERIALIZED (SELECT lhs, rhs, cnt FROM p$k ORDER BY cnt DESC, lhs, rhs LIMIT 1),
v$k AS MATERIALIZED (SELECT word, freq, replace(sym, '$O' || lhs || '$C$O' || rhs || '$C',
                                   '$O' || lhs || rhs || '$C') AS sym
        FROM v${k - 1} CROSS JOIN m$k)"""
    }.mkString(",\n")
    val union = (1 to numMerges)
      .map(k => s"SELECT ${k - 1} AS rank, lhs, rhs, cnt AS pair_count FROM m$k")
      .mkString("\nUNION ALL\n")
    (steps, union)
  }

  /** Char-level seal of SQL expression `e`: one bracketed symbol per
    * character (RE2 `.` — matches everything but \n, which `\s+`
    * already stripped). */
  private def charSealSql(e: String): String =
    s"regexp_replace($e, '(.)', '$O\\1$C', 'g')"

  /** Byte-level seal of SQL expression `e`: `hex(encode(e))` is the
    * UPPERCASE hex of the UTF-8 bytes (DuckDB twin of Spark's
    * `hex(encode(…, 'UTF-8'))` — verified byte-identical), `(..)`
    * brackets each byte's hex pair. */
  private def byteSealSql(e: String): String =
    s"regexp_replace(hex(encode($e)), '(..)', '$O\\1$C', 'g')"

  private def trainCtes(numMerges: Int, topK: Int,
      sealSql: String => String,
      wordsSql: String = oToks): String = {
    val (steps, union) = mergeSteps(numMerges)
    s"""tkx AS (SELECT unnest($wordsSql) AS word FROM documents),
wc AS (SELECT word, count(*) AS freq FROM tkx
       WHERE strpos(word, '$O') = 0 AND strpos(word, '$C') = 0
       GROUP BY word),
ws AS (SELECT word, freq FROM wc ORDER BY freq DESC, word LIMIT $topK),
v0 AS MATERIALIZED (SELECT word, freq,
         ${sealSql("word")} AS sym
       FROM ws),
$steps,
allm AS MATERIALIZED (
$union)"""
  }

  /** Full oracle for the merge-table query. */
  def oracleTrainSql(numMerges: Int, topK: Int): String =
    s"""WITH ${trainCtes(numMerges, topK, charSealSql)}
SELECT rank, lhs, rhs, pair_count FROM allm ORDER BY rank"""

  /** Full oracle for the BYTE-level merge-table query — the same
    * merge-step chain over the byte-sealed `v0`. */
  def oracleByteTrainSql(numMerges: Int, topK: Int): String =
    s"""WITH ${trainCtes(numMerges, topK, byteSealSql)}
SELECT rank, lhs, rhs, pair_count FROM allm ORDER BY rank"""

  /** Full oracle for [[encodeDocs]] under the merges the training CTEs
    * derive: a recursive CTE applies merge rank k at recursion depth k,
    * then per-document symbol counts and the order-preserving digest. */
  /** Training + per-document application CTEs, ending in a relation
    * `agg(doc_id, n, s)` (BPE token count + space-joined symbols) —
    * the shared prefix of the encode and trained-packing oracles. */
  private def encodeCtes(numMerges: Int, topK: Int,
      sealSql: String => String = charSealSql,
      wordsSql: String = oToks): String =
    s"""${trainCtes(numMerges, topK, sealSql, wordsSql)},
dw AS (SELECT doc_id, generate_subscripts(ws2, 1) AS wpos, unnest(ws2) AS word
       FROM (SELECT doc_id,
               list_filter($wordsSql,
                 x -> strpos(x, '$O') = 0 AND strpos(x, '$C') = 0) AS ws2
             FROM documents)),
e(doc_id, wpos, sym, k) AS (
  SELECT doc_id, wpos,
    ${sealSql("word")}, 0
  FROM dw
  UNION ALL
  SELECT e.doc_id, e.wpos,
    replace(sym, '$O' || lhs || '$C$O' || rhs || '$C',
                 '$O' || lhs || rhs || '$C'), k + 1
  FROM e JOIN allm ON allm.rank = e.k),
fin AS (SELECT doc_id, wpos,
          string_split(trim(sym, '$O$C'), '$C$O') AS syms
        -- recursion depth = ACHIEVED merge count: if the trainer
        -- early-stops below numMerges (fully merged vocab), later m{k}
        -- are empty, allm is shorter, and the join chain stops there —
        -- a literal numMerges would select an empty depth
        FROM e WHERE k = (SELECT count(*) FROM allm)),
agg AS (SELECT doc_id,
          CAST(sum(len(syms)) AS BIGINT) AS n,
          string_agg(array_to_string(syms, ' '), ' ' ORDER BY wpos) AS s
        FROM fin GROUP BY doc_id)"""

  def oracleEncodeSql(numMerges: Int, topK: Int): String =
    s"""WITH RECURSIVE ${encodeCtes(numMerges, topK)}
SELECT d.doc_id, coalesce(a.n, 0) AS n_bpe_tokens,
  md5(coalesce(a.s, '')) AS tokens_md5
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
ORDER BY d.doc_id"""

  /** [[oracleEncodeSql]] over the byte alphabet: training AND the
    * per-document recursive application both seal via UTF-8-byte hex. */
  def oracleByteEncodeSql(numMerges: Int, topK: Int): String =
    s"""WITH RECURSIVE ${encodeCtes(numMerges, topK, byteSealSql)}
SELECT d.doc_id, coalesce(a.n, 0) AS n_bpe_tokens,
  md5(coalesce(a.s, '')) AS tokens_md5
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
ORDER BY d.doc_id"""

  /** [[oracleByteTrainSql]] over the GPT-2 pretoken stream — the word
    * source swaps ([[oPretoks]]), the sealing and merge chain are
    * shared. */
  def oracleBytePretokTrainSql(numMerges: Int, topK: Int): String =
    s"""WITH ${trainCtes(numMerges, topK, byteSealSql, oPretoks)}
SELECT rank, lhs, rhs, pair_count FROM allm ORDER BY rank"""

  /** [[oracleByteEncodeSql]] over the GPT-2 pretoken stream. */
  def oracleBytePretokEncodeSql(numMerges: Int, topK: Int): String =
    s"""WITH RECURSIVE ${encodeCtes(numMerges, topK, byteSealSql, oPretoks)}
SELECT d.doc_id, coalesce(a.n, 0) AS n_bpe_tokens,
  md5(coalesce(a.s, '')) AS tokens_md5
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
ORDER BY d.doc_id"""

  /** Oracle for the per-language BYTES-PER-TOKEN compression report:
    * the pretok byte encode chain's per-document counts joined to
    * UTF-8 byte lengths (`strlen` is DuckDB's byte length — the twin
    * of the engine's `octet_length`), the ratio via the repo's exact
    * half-up integer-division idiom. */
  def oracleBytePretokCompressionSql(numMerges: Int, topK: Int): String =
    s"""WITH RECURSIVE ${encodeCtes(numMerges, topK, byteSealSql, oPretoks)},
pt AS (SELECT d.doc_id, d.lang, CAST(strlen(d.text) AS BIGINT) AS b,
         CAST(coalesce(a.n, 0) AS BIGINT) AS t
       FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id),
g AS (SELECT lang, CAST(sum(b) AS BIGINT) AS n_bytes,
        CAST(sum(t) AS BIGINT) AS n_tokens
      FROM pt GROUP BY 1)
SELECT lang, n_bytes, n_tokens,
  ((2 * n_bytes * 10000 + n_tokens) // (2 * n_tokens)) / 10000.0
    AS bytes_per_token
FROM g ORDER BY lang"""

  /** [[oraclePackSql]] over the pretokenized byte alphabet — the
    * packing oracle driven by the PRODUCTION tokenizer's counts. */
  def oracleBytePretokPackSql(numMerges: Int, topK: Int,
      budget: Int): String =
    oraclePackSql(numMerges, topK, budget, byteSealSql, oPretoks)

  /** The [[byteVocab]] id-assignment CTEs over a trained `allm`:
    * `vocab(id, sym)` — 256 base byte symbols then merge outputs at
    * 256 + rank. */
  private val vocabCtes: String = """vbase AS (
  SELECT CAST(i AS BIGINT) AS id, upper(lpad(to_hex(i), 2, '0')) AS sym
  FROM range(256) t(i)),
vmerge AS (SELECT CAST(256 + rank AS BIGINT) AS id, lhs || rhs AS sym
           FROM allm),
vocab AS (SELECT * FROM vbase UNION ALL SELECT * FROM vmerge)"""

  /** Oracle for the vocab query: replay the pretok byte training, then
    * the id assignment. */
  def oracleBytePretokVocabSql(numMerges: Int, topK: Int): String =
    s"""WITH ${trainCtes(numMerges, topK, byteSealSql, oPretoks)},
$vocabCtes
SELECT id, sym FROM vocab ORDER BY id"""

  /** Oracle for [[encodeDocsBytesPretokIds]]: the pretok byte encode
    * chain, each symbol joined to its vocab id (total by
    * construction), ids digested in (word, symbol) order. */
  def oracleBytePretokEncodeIdsSql(numMerges: Int, topK: Int): String =
    s"""WITH RECURSIVE ${encodeCtes(numMerges, topK, byteSealSql, oPretoks)},
$vocabCtes,
sy AS (SELECT doc_id, wpos, generate_subscripts(syms, 1) AS sp,
         unnest(syms) AS sym FROM fin),
im AS (SELECT sy.doc_id, sy.wpos, sy.sp, vocab.id
       FROM sy JOIN vocab USING (sym)),
ia AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
         md5(string_agg(CAST(id AS VARCHAR), ' ' ORDER BY wpos, sp)) AS h
       FROM im GROUP BY doc_id)
SELECT d.doc_id, coalesce(a.n, 0) AS n_bpe_tokens,
  coalesce(a.h, md5('')) AS ids_md5
FROM documents d LEFT JOIN ia a ON d.doc_id = a.doc_id
ORDER BY d.doc_id"""

  /** Oracle for [[Gpt2Artifacts.encodeDocsIdsSpecials]] over a corpus
    * with PLANTED special markers: each document becomes
    * `[special if doc_id%3=0] ‖ text ‖ special ‖ text`; the oracle
    * replays training (shared CTEs), splits each planted text on the
    * special literal, pretokenizes and byte-encodes every SEGMENT
    * independently (specials never merge across — the kernel's hard
    * segment boundary), and interleaves the special's id (= 256 +
    * achieved merge count, the export assignment) between segments.
    * Digest order is (segment, pretoken, symbol) — document order. */
  def oracleBytePretokSpecialsEncodeIdsSql(numMerges: Int, topK: Int,
      special: String): String = {
    require(!special.contains("'"), "special must be SQL-literal-safe")
    val sp = special
    s"""WITH RECURSIVE ${trainCtes(numMerges, topK, byteSealSql, oPretoks)},
corpus AS (SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN '$sp' ELSE '' END
      || text || '$sp' || text AS ptext
  FROM documents),
seg AS (SELECT doc_id, generate_subscripts(ss, 1) AS sp,
          unnest(ss) AS segt, len(ss) AS nseg
        FROM (SELECT doc_id, string_split(ptext, '$sp') AS ss FROM corpus)),
dws AS (SELECT doc_id, sp, generate_subscripts(ws2, 1) AS wpos,
          unnest(ws2) AS word
        FROM (SELECT doc_id, sp,
                list_filter(${oPretoksOf("segt")},
                  x -> strpos(x, chr(30)) = 0 AND strpos(x, chr(31)) = 0)
                  AS ws2
              FROM seg)),
es(doc_id, sp, wpos, sym, k) AS (
  SELECT doc_id, sp, wpos, ${byteSealSql("word")}, 0 FROM dws
  UNION ALL
  SELECT es.doc_id, es.sp, es.wpos,
    replace(sym, '$O' || lhs || '$C$O' || rhs || '$C',
                 '$O' || lhs || rhs || '$C'), k + 1
  FROM es JOIN allm ON allm.rank = es.k),
fins AS (SELECT doc_id, sp, wpos,
           string_split(trim(sym, '$O$C'), '$C$O') AS syms
         FROM es WHERE k = (SELECT count(*) FROM allm)),
$vocabCtes,
sy AS (SELECT doc_id, sp, wpos, generate_subscripts(syms, 1) AS ip,
         unnest(syms) AS sym FROM fins),
im AS (SELECT sy.doc_id, sy.sp, sy.wpos, sy.ip, vocab.id
       FROM sy JOIN vocab USING (sym)),
spc AS (SELECT doc_id, sp, 2147483647 AS wpos, 0 AS ip,
          CAST(256 + (SELECT count(*) FROM allm) AS BIGINT) AS id
        FROM seg WHERE sp < nseg),
tok AS (SELECT * FROM im UNION ALL SELECT * FROM spc),
ia AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
         md5(string_agg(CAST(id AS VARCHAR), ' '
           ORDER BY sp, wpos, ip)) AS h
       FROM tok GROUP BY doc_id)
SELECT d.doc_id, coalesce(a.n, 0) AS n_bpe_tokens,
  coalesce(a.h, md5('')) AS ids_md5
FROM documents d LEFT JOIN ia a ON d.doc_id = a.doc_id
ORDER BY d.doc_id"""
  }

  /**
   * Oracle for the RELEASE-MART capstone (`corpus_release` — round-14
   * verdict ask #5): ONE composed query replaying the full
   * training-data release path end to end —
   *
   *   quality gate (≥ 10 whitespace tokens) → soft-dedup 1/n_copies
   *   weights over the planted-duplicate corpus → the clamped
   *   deterministic weighted sample (`Sampling.byWeight`) → byte-BPE
   *   token counts AND the tokenizer-ids end state (`ids_md5` — the
   *   digest of the exact vocab-id stream a trainer would read, via
   *   the pretok byte encode chain + byteVocab id join)
   *   → per-language `packCounted` (seq id / offset / boundary at
   *   `seqBudget`) → global `shardByTokenBudget` (release shard at
   *   `shardBudget`).
   *
   * Every stage reuses the exact fragment its standalone oracle is
   * gated by (softSample's group/clamp SQL, the pretok encode CTEs,
   * the pack window) — the composition, not the pieces, is what this
   * oracle newly proves. Duplicates are planted as in
   * `dedup_soft_sample` (every 5th doc re-keyed +10000) so sub-1.0
   * weights are exercised.
   */
  def oracleCorpusReleaseSql(numMerges: Int, topK: Int,
      seqBudget: Int, shardBudget: Int): String =
    s"""WITH RECURSIVE ${releaseCountedCtes(numMerges, topK)},
rpp AS (SELECT doc_id, lang, n_copies, weight, n_tokens, ids_md5,
          CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang
            ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1
            PRECEDING), 0) AS BIGINT) AS lstart,
          CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS start_tok
        FROM rcnt)
SELECT doc_id, lang AS shard, n_copies, weight, n_tokens, ids_md5,
  CAST(lstart // $seqBudget AS BIGINT) AS seq_id,
  CAST(lstart % $seqBudget AS BIGINT) AS seq_offset,
  lstart % $seqBudget + n_tokens > $seqBudget AS spans_boundary,
  start_tok,
  CAST(start_tok // $shardBudget AS BIGINT) AS release_shard
FROM rpp ORDER BY doc_id"""

  /** Oracle for `corpus_release_manifest`: the shared release-counted
    * chain, split-packed per language (the packSplit fragment
    * arithmetic) and rolled into per-sequence assembly manifests (the
    * sequenceManifest aggregation) — the loader artifact of the
    * release mart under one composed oracle. */
  def oracleCorpusReleaseManifestSql(numMerges: Int, topK: Int,
      seqBudget: Int): String =
    s"""WITH RECURSIVE ${releaseCountedCtes(numMerges, topK)},
mpp AS (SELECT doc_id, lang AS shard, n_tokens,
          CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang
            ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1
            PRECEDING), 0) AS BIGINT) AS start_tok
        FROM rcnt),
mf AS (SELECT doc_id, shard, n_tokens, start_tok,
         unnest(generate_series(start_tok // $seqBudget,
           (start_tok + n_tokens - 1) // $seqBudget)) AS seq_id
       FROM mpp WHERE n_tokens > 0),
mfr AS (SELECT doc_id, shard, CAST(seq_id AS BIGINT) AS seq_id,
  CAST(greatest(start_tok, seq_id * $seqBudget) - seq_id * $seqBudget
    AS BIGINT) AS seq_offset,
  CAST(greatest(start_tok, seq_id * $seqBudget) - start_tok AS BIGINT)
    AS doc_offset,
  CAST(least(start_tok + n_tokens, (seq_id + 1) * $seqBudget)
    - greatest(start_tok, seq_id * $seqBudget) AS BIGINT) AS frag_len
FROM mf)
SELECT shard, seq_id, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(frag_len) AS BIGINT) AS n_tokens,
  string_agg(CAST(doc_id AS VARCHAR) || ':' ||
    CAST(doc_offset AS VARCHAR) || ':' || CAST(frag_len AS VARCHAR),
    ';' ORDER BY seq_offset) AS manifest
FROM mfr GROUP BY shard, seq_id ORDER BY shard, seq_id"""

  /** Oracle for `corpus_release_sequences`: the shared release chain,
    * each sampled document's id stream positioned (row_number over the
    * (wpos, sp) document order), fragments from the packSplit
    * arithmetic, tokens laid at `seq_offset + pos − doc_offset` inside
    * their sequence, digested per (shard, seq_id) — the assembled
    * sequence CONTENT, token for token. */
  def oracleCorpusReleaseSequencesSql(numMerges: Int, topK: Int,
      seqBudget: Int): String =
    s"""WITH RECURSIVE ${releaseCountedCtes(numMerges, topK)},
rtok AS (SELECT doc_id, id,
           row_number() OVER (PARTITION BY doc_id ORDER BY wpos, sp) - 1
             AS pos
         FROM rim),
mpp AS (SELECT doc_id, lang AS shard, n_tokens,
          CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang
            ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1
            PRECEDING), 0) AS BIGINT) AS start_tok
        FROM rcnt),
mf AS (SELECT doc_id, shard, n_tokens, start_tok,
         unnest(generate_series(start_tok // $seqBudget,
           (start_tok + n_tokens - 1) // $seqBudget)) AS seq_id
       FROM mpp WHERE n_tokens > 0),
mfr AS (SELECT doc_id, shard, CAST(seq_id AS BIGINT) AS seq_id,
  CAST(greatest(start_tok, seq_id * $seqBudget) - seq_id * $seqBudget
    AS BIGINT) AS seq_offset,
  CAST(greatest(start_tok, seq_id * $seqBudget) - start_tok AS BIGINT)
    AS doc_offset,
  CAST(least(start_tok + n_tokens, (seq_id + 1) * $seqBudget)
    - greatest(start_tok, seq_id * $seqBudget) AS BIGINT) AS frag_len
FROM mf),
sj AS (SELECT mfr.shard, mfr.seq_id,
         mfr.seq_offset + t.pos - mfr.doc_offset AS sp, t.id
       FROM mfr JOIN rtok t ON t.doc_id = mfr.doc_id
       WHERE t.pos >= mfr.doc_offset
         AND t.pos < mfr.doc_offset + mfr.frag_len)
SELECT shard, seq_id, CAST(count(*) AS BIGINT) AS n_tokens,
  md5(string_agg(CAST(id AS VARCHAR), ' ' ORDER BY sp)) AS seq_ids_md5
FROM sj GROUP BY shard, seq_id ORDER BY shard, seq_id"""

  /** The shared release-mart CTE chain (through `rcnt` — the counted
    * sample with soft-dedup metadata, kernel token counts and the
    * ids_md5 end state); see [[oracleCorpusReleaseSql]] for the
    * stage-by-stage story. */
  private def releaseCountedCtes(numMerges: Int, topK: Int): String =
    s"""${trainCtes(numMerges, topK, byteSealSql, oPretoks)},
rcorpus AS (SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 10000, lang, text FROM documents WHERE doc_id % 5 = 0),
rqual AS (SELECT * FROM rcorpus WHERE len($oToks) >= 10),
rg AS (SELECT md5(text) AS h, count(*) AS n FROM rqual GROUP BY 1),
rw AS (SELECT d.doc_id, d.lang, d.text, g.n AS n_copies,
         round(CAST(1.0 AS DOUBLE) / g.n, 6) AS weight
       FROM rqual d JOIN rg g ON md5(d.text) = g.h),
rsamp AS (SELECT * FROM rw
  WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
      AS BIGINT) % 10000 AS BIGINT)
    < greatest(CAST(floor(weight * 10000) AS BIGINT),
               CASE WHEN weight > 0 THEN 1 ELSE 0 END)),
rdw AS (SELECT doc_id, generate_subscripts(ws2, 1) AS wpos,
          unnest(ws2) AS word
        FROM (SELECT doc_id,
                list_filter(${oPretoksOf("text")},
                  x -> strpos(x, chr(30)) = 0 AND strpos(x, chr(31)) = 0)
                  AS ws2
              FROM rsamp)),
re(doc_id, wpos, sym, k) AS (
  SELECT doc_id, wpos, ${byteSealSql("word")}, 0 FROM rdw
  UNION ALL
  SELECT re.doc_id, re.wpos,
    replace(sym, '$O' || lhs || '$C$O' || rhs || '$C',
                 '$O' || lhs || rhs || '$C'), k + 1
  FROM re JOIN allm ON allm.rank = re.k),
rfin AS (SELECT doc_id, wpos,
           string_split(trim(sym, '$O$C'), '$C$O') AS syms
         FROM re WHERE k = (SELECT count(*) FROM allm)),
$vocabCtes,
rsy AS (SELECT doc_id, wpos, generate_subscripts(syms, 1) AS sp,
          unnest(syms) AS sym FROM rfin),
rim AS (SELECT rsy.doc_id, rsy.wpos, rsy.sp, vocab.id
        FROM rsy JOIN vocab USING (sym)),
ragg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
           md5(string_agg(CAST(id AS VARCHAR), ' ' ORDER BY wpos, sp))
             AS h
         FROM rim GROUP BY doc_id),
rcnt AS (SELECT s.doc_id, s.lang, s.n_copies, s.weight,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n_tokens,
           coalesce(a.h, md5('')) AS ids_md5
         FROM rsamp s LEFT JOIN ragg a ON s.doc_id = a.doc_id)"""

  /** Oracle for `SequencePacking.packCounted` driven by [[tokenCountCol]]
    * (shard = lang): the encode chain's per-document counts feed the
    * per-shard exclusive prefix sum and budget cuts. */
  def oraclePackSql(numMerges: Int, topK: Int, budget: Int,
      sealSql: String => String = charSealSql,
      wordsSql: String = oToks): String =
    s"""WITH RECURSIVE ${encodeCtes(numMerges, topK, sealSql, wordsSql)},
pt AS (SELECT d.doc_id, d.lang AS shard,
         CAST(coalesce(a.n, 0) AS BIGINT) AS n_tokens
       FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id),
pp AS (SELECT doc_id, shard, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_tok
       FROM pt)
SELECT doc_id, shard, n_tokens,
  CAST(start_tok // $budget AS BIGINT) AS seq_id,
  CAST(start_tok % $budget AS BIGINT) AS seq_offset,
  start_tok % $budget + n_tokens > $budget AS spans_boundary
FROM pp ORDER BY doc_id"""
}
