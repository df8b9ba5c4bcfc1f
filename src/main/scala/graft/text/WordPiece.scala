package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * WordPiece TRAINING — the likelihood-scored merge learner that
 * produces the vocabularies [[Tokenizer]]'s greedy longest-match
 * kernel serves (reference behavior: dbt-style token counting in
 * `/root/reference` models only consumes whitespace token counts —
 * `dbt/models/marts/mart_match_statistics.sql:1` — so the whole
 * tokenizer family is an extension per the build brief, mirroring
 * Schuster & Nakajima 2012 / the BERT WordPiece convention as
 * documented in the HuggingFace tokenizers course).
 *
 * Algorithm (the HF-course WordPiece trainer semantics):
 *  - Words are the SERVING kernel's own pre-tokens — lowercase
 *    `[a-z0-9]+` runs ([[Tokenizer.tokenize]]) — so train-time and
 *    serve-time word models agree by construction.
 *  - A word seals to per-character symbols with the continuation
 *    prefix: "abc" → ["a", "##b", "##c"].
 *  - Each step scores every adjacent symbol pair by the LIKELIHOOD
 *    ratio `score = count(l,r) / (count(l) · count(r))` — NOT the raw
 *    pair count BPE maximizes; the denominator is each symbol's total
 *    frequency in the current vocabulary state. The argmax merges:
 *    merged symbol = `l + r.stripPrefix("##")` (l keeps its own
 *    word-start/continuation role).
 *  - Serving NEEDS ONLY THE VOCABULARY, not the merge order — greedy
 *    longest-match is WordPiece's defined inference — so the trained
 *    artifact is exactly a [[Tokenizer.Vocab]] piece list (plus BERT
 *    id assignment, see [[Model.pieces]]).
 *
 * Determinism & engine portability: the score is an IEEE binary64
 * ratio of exact integer counts. Counts below 2⁵³ are exactly
 * representable and their product/quotient correctly rounded, so the
 * JVM and DuckDB compute BIT-IDENTICAL doubles and the DuckDB training
 * oracle ([[oracleTrainSql]]) replays the argmax exactly; near-tie
 * ranks depend on binary64 rounding BY DESIGN (the same trade the HF
 * trainer makes with f64 scores). Residual ties break by (pair count
 * desc, lhs asc, rhs asc); symbols are ASCII by construction (the
 * `[a-z0-9]+` word source plus the '#' prefix), so Java compareTo,
 * Spark's UTF8String collation and DuckDB's binary ORDER BY all agree.
 *
 * Scale shape: corpus-axis work is ONE token explode + hash
 * aggregation (the bounded `topK`-type driver sample — [[Bpe]]'s
 * discipline); training runs on the driver over ≤ topK types.
 * [[trainReference]] recounts every step (the semantics anchor the
 * oracle replays CTE-for-CTE); [[train]] computes the IDENTICAL merge
 * sequence incrementally for production (≥30k-piece) vocabularies.
 * Serving is map-side only, and unlike the BPE merge kernel the greedy
 * matcher is LINEAR in word length (O(len · maxPieceLen) hash probes),
 * so it needs no input-length chunking bound.
 */
object WordPiece {

  /** One learned merge with the counts behind its score — the score
    * itself is `pairCount / (leftCount · rightCount)`, reported via
    * its exact integer components so the oracle compare stays in
    * hashable integer columns. */
  final case class WpMerge(rank: Int, left: String, right: String,
      pairCount: Long, leftCount: Long, rightCount: Long)

  /** Merged symbol of a pair: the right side drops its continuation
    * prefix; the left keeps its role. */
  def merged(l: String, r: String): String =
    l + (if (r.startsWith("##")) r.substring(2) else r)

  /** Per-character symbol array of one word: first char plain, the
    * rest "##"-prefixed ("abc" → [a, ##b, ##c]). Words are `[a-z0-9]+`
    * runs, so chars are ASCII — no code-point splitting to worry
    * about (contrast [[Bpe.seal]]). */
  def sealWp(word: String): Array[String] = {
    val out = new Array[String](word.length)
    var i = 0
    while (i < word.length) {
      out(i) = if (i == 0) word.substring(0, 1) else "##" + word.charAt(i)
      i += 1
    }
    out
  }

  /** Bounded (word, freq) type sample over the SERVING pre-tokenizer
    * (lowercase `[a-z0-9]+`): top `topK` types by (freq desc, word
    * asc) — one distributed explode + aggregation, then a ≤ topK
    * driver collect. */
  def wordSample(docs: DataFrame, textCol: String,
      topK: Int): Seq[(String, Long)] =
    docs.select(explode(regexp_extract_all(lower(col(textCol)),
        lit("[a-z0-9]+"), lit(0))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word").asc)
      .limit(topK)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** One leftmost non-overlapping merge pass (same semantics as
    * [[Bpe]]'s and SQL `replace`: match, emit, continue AFTER). */
  private def mergePass(syms: Array[String], l: String, r: String,
      m: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var p = 0
    while (p < syms.length) {
      if (p < syms.length - 1 && syms(p) == l && syms(p + 1) == r) {
        out += m; p += 2
      } else { out += syms(p); p += 1 }
    }
    out.toArray
  }

  /** `true` iff candidate (s1, c1, l1, r1) outranks (s2, c2, l2, r2)
    * under (score desc, pair count desc, lhs asc, rhs asc). */
  private def outranks(s1: Double, c1: Long, l1: String, r1: String,
      s2: Double, c2: Long, l2: String, r2: String): Boolean = {
    val d = java.lang.Double.compare(s1, s2)
    if (d != 0) d > 0
    else if (c1 != c2) c1 > c2
    else {
      val cl = l1.compareTo(l2)
      if (cl != 0) cl < 0 else r1.compareTo(r2) < 0
    }
  }

  /** REFERENCE trainer — recounts every pair and symbol each step;
    * O(numMerges × sample symbols). This is the semantics anchor the
    * DuckDB oracle replays CTE-for-CTE and [[train]] must equal
    * bit-for-bit (spec-proven); production training uses [[train]]. */
  private[graft] def trainReference(sample: Seq[(String, Long)],
      numMerges: Int): Seq[WpMerge] = {
    require(numMerges > 0, "numMerges must be positive")
    var words: Array[Array[String]] = sample.map(s => sealWp(s._1)).toArray
    val freqs: Array[Long] = sample.map(_._2).toArray
    val out = Seq.newBuilder[WpMerge]
    var k = 0
    var done = false
    while (k < numMerges && !done) {
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      val sc = scala.collection.mutable.HashMap.empty[String, Long]
      var wi = 0
      while (wi < words.length) {
        val syms = words(wi); val f = freqs(wi)
        var i = 0
        while (i < syms.length) {
          sc.update(syms(i), sc.getOrElse(syms(i), 0L) + f)
          if (i < syms.length - 1) {
            val key = (syms(i), syms(i + 1))
            pc.update(key, pc.getOrElse(key, 0L) + f)
          }
          i += 1
        }
        wi += 1
      }
      if (pc.isEmpty) done = true
      else {
        var bl: String = null; var br: String = null
        var bcnt = 0L; var bs = 0.0
        pc.foreach { case ((l, r), c) =>
          val s = c.toDouble / (sc(l).toDouble * sc(r).toDouble)
          if (bl == null || outranks(s, c, l, r, bs, bcnt, bl, br)) {
            bl = l; br = r; bcnt = c; bs = s
          }
        }
        out += WpMerge(k, bl, br, bcnt, sc(bl), sc(br))
        val m = merged(bl, br)
        words = words.map(syms => mergePass(syms, bl, br, m))
        k += 1
      }
    }
    out.result()
  }

  /** Merge learning — the incremental trainer ([[trainIncremental]]),
    * bit-identical to [[trainReference]] (spec-proven on real and
    * synthetic samples) but fast enough for production (≥30k-piece)
    * vocabularies. */
  def train(sample: Seq[(String, Long)], numMerges: Int): Seq[WpMerge] =
    trainIncremental(sample, numMerges)

  /**
   * INCREMENTAL merge learning — the production-size trainer: same
   * merge sequence as [[trainReference]], but each step touches only
   * the words containing the chosen pair instead of recounting the
   * whole sample. The WordPiece twist over the BPE shape
   * ([[Bpe]]'s heap trainer): a candidate's rank depends on its pair
   * count AND both symbol counts (the likelihood denominator), and a
   * merge changes the counts of symbols `l`, `r` and the merged
   * symbol — which RAISES the scores of every other pair containing
   * them. Lazy invalidation alone would therefore under-rank such
   * pairs (a stale-low entry can sit below a valid-but-smaller top),
   * so the trainer re-pushes a fresh candidate for EVERY pair touching
   * a changed symbol (a `symbol → live pairs` reverse index), keeping
   * the invariant that the true argmax is always present in the heap
   * at its CURRENT score; popped entries are valid iff all three
   * counts still match. Cost ≈ O(total symbols + Σ pairs adjacent to
   * merged symbols · log heap), independent of numMerges × sample
   * size — a 32k-merge BERT-class vocabulary trains in seconds where
   * the reference loop needs hours.
   */
  private[graft] def trainIncremental(sample: Seq[(String, Long)],
      numMerges: Int): Seq[WpMerge] = {
    require(numMerges > 0, "numMerges must be positive")
    // symbol interning: pair keys pack two ids into one long
    val symId = new java.util.HashMap[String, Integer]()
    val symStr = new scala.collection.mutable.ArrayBuffer[String]()
    def intern(s: String): Int = {
      val hit = symId.get(s)
      if (hit != null) hit.intValue()
      else { symStr += s; symId.put(s, symStr.length - 1); symStr.length - 1 }
    }
    @inline def pk(l: Int, r: Int): Long = (l.toLong << 32) | (r & 0xffffffffL)

    val words: Array[Array[Int]] =
      sample.map(s => sealWp(s._1).map(intern)).toArray
    val freqs: Array[Long] = sample.map(_._2).toArray

    val pairCnt = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    val symCnt = new java.util.HashMap[Integer, java.lang.Long]()
    val pairWords =
      new java.util.HashMap[java.lang.Long, java.util.HashSet[Integer]]()
    val symPairs =
      new java.util.HashMap[Integer, java.util.HashSet[java.lang.Long]]()

    final case class Cand(l: Int, r: Int, cnt: Long, lc: Long, rc: Long) {
      val score: Double = cnt.toDouble / (lc.toDouble * rc.toDouble)
    }
    val order: java.util.Comparator[Cand] = new java.util.Comparator[Cand] {
      override def compare(a: Cand, b: Cand): Int = {
        val ds = java.lang.Double.compare(b.score, a.score)
        if (ds != 0) ds
        else if (a.cnt != b.cnt) java.lang.Long.compare(b.cnt, a.cnt)
        else {
          val cl = symStr(a.l).compareTo(symStr(b.l))
          if (cl != 0) cl else symStr(a.r).compareTo(symStr(b.r))
        }
      }
    }
    val heap = new java.util.PriorityQueue[Cand](
      math.max(16, words.length), order)

    @inline def cntOf(m: java.util.HashMap[java.lang.Long, java.lang.Long],
        k: Long): Long = {
      val v = m.get(k); if (v == null) 0L else v.longValue()
    }
    @inline def scOf(s: Int): Long = {
      val v = symCnt.get(s); if (v == null) 0L else v.longValue()
    }
    def push(l: Int, r: Int): Unit = {
      val c = cntOf(pairCnt, pk(l, r))
      if (c > 0L) heap.add(Cand(l, r, c, scOf(l), scOf(r)))
    }
    def bumpPair(l: Int, r: Int, delta: Long, wi: Int,
        stillIn: Boolean): Unit = {
      val k = java.lang.Long.valueOf(pk(l, r))
      val prev = pairCnt.get(k)
      val nc = (if (prev == null) 0L else prev.longValue()) + delta
      if (nc <= 0L) {
        pairCnt.remove(k)
        pairWords.remove(k)
        val sl = symPairs.get(Integer.valueOf(l))
        if (sl != null) sl.remove(k)
        val sr = symPairs.get(Integer.valueOf(r))
        if (sr != null) sr.remove(k)
      } else {
        if (prev == null) {
          symPairs.computeIfAbsent(Integer.valueOf(l),
            _ => new java.util.HashSet[java.lang.Long]()).add(k)
          symPairs.computeIfAbsent(Integer.valueOf(r),
            _ => new java.util.HashSet[java.lang.Long]()).add(k)
        }
        pairCnt.put(k, java.lang.Long.valueOf(nc))
        val ws = pairWords.computeIfAbsent(k,
          _ => new java.util.HashSet[Integer]())
        if (stillIn) ws.add(Integer.valueOf(wi))
        else ws.remove(Integer.valueOf(wi))
      }
    }
    def bumpSym(s: Int, delta: Long): Unit = {
      val k = Integer.valueOf(s)
      val prev = symCnt.get(k)
      val nc = (if (prev == null) 0L else prev.longValue()) + delta
      if (nc <= 0L) symCnt.remove(k) else symCnt.put(k, java.lang.Long.valueOf(nc))
    }

    // ---- seed counts from the sealed sample
    var wi = 0
    while (wi < words.length) {
      val syms = words(wi); val f = freqs(wi)
      var i = 0
      while (i < syms.length) {
        bumpSym(syms(i), f)
        if (i < syms.length - 1) bumpPair(syms(i), syms(i + 1), f, wi,
          stillIn = true)
        i += 1
      }
      wi += 1
    }
    val it0 = pairCnt.keySet().iterator()
    while (it0.hasNext) {
      val k = it0.next().longValue()
      push((k >>> 32).toInt, k.toInt)
    }

    def mergePassInt(syms: Array[Int], l: Int, r: Int,
        m: Int): Array[Int] = {
      val out = new scala.collection.mutable.ArrayBuffer[Int](syms.length)
      var p = 0
      while (p < syms.length) {
        if (p < syms.length - 1 && syms(p) == l && syms(p + 1) == r) {
          out += m; p += 2
        } else { out += syms(p); p += 1 }
      }
      out.toArray
    }

    val out = Seq.newBuilder[WpMerge]
    var k = 0
    while (k < numMerges && !pairCnt.isEmpty) {
      // pop to the first candidate whose THREE counts are all current
      var cand: Cand = null
      while (cand == null && !heap.isEmpty) {
        val c = heap.poll()
        if (cntOf(pairCnt, pk(c.l, c.r)) == c.cnt &&
            scOf(c.l) == c.lc && scOf(c.r) == c.rc) cand = c
      }
      // the push-on-every-change invariant guarantees a valid entry
      // while pairs remain; a defensive reseed covers any future edit
      // that breaks it rather than silently training a wrong table
      if (cand == null) {
        val it = pairCnt.keySet().iterator()
        while (it.hasNext) {
          val key = it.next().longValue()
          push((key >>> 32).toInt, key.toInt)
        }
      } else {
        val l = cand.l; val r = cand.r
        out += WpMerge(k, symStr(l), symStr(r), cand.cnt, cand.lc, cand.rc)
        val mSym = intern(merged(symStr(l), symStr(r)))
        val touched = scala.collection.mutable.HashSet.empty[Int]
        touched += l; touched += r; touched += mSym
        val changedPairs = scala.collection.mutable.HashSet.empty[Long]
        val ws = pairWords.get(java.lang.Long.valueOf(pk(l, r)))
        if (ws != null) {
          val wit = ws.toArray(new Array[Integer](ws.size()))
          var j = 0
          while (j < wit.length) {
            val w = wit(j).intValue()
            val oldSyms = words(w); val f = freqs(w)
            val newSyms = mergePassInt(oldSyms, l, r, mSym)
            words(w) = newSyms
            // pair multiset diff (old − then + new), symbol diff same
            var i = 0
            while (i < oldSyms.length) {
              bumpSym(oldSyms(i), -f)
              if (i < oldSyms.length - 1) {
                bumpPair(oldSyms(i), oldSyms(i + 1), -f, w, stillIn = false)
                changedPairs += pk(oldSyms(i), oldSyms(i + 1))
              }
              i += 1
            }
            i = 0
            while (i < newSyms.length) {
              bumpSym(newSyms(i), f)
              if (i < newSyms.length - 1) {
                bumpPair(newSyms(i), newSyms(i + 1), f, w, stillIn = true)
                changedPairs += pk(newSyms(i), newSyms(i + 1))
              }
              i += 1
            }
            j += 1
          }
        }
        // refresh every pair whose count OR either symbol count moved
        touched.foreach { s =>
          val sp = symPairs.get(Integer.valueOf(s))
          if (sp != null) {
            val arr = sp.toArray(new Array[java.lang.Long](sp.size()))
            var j = 0
            while (j < arr.length) {
              changedPairs += arr(j).longValue(); j += 1
            }
          }
        }
        changedPairs.foreach { key =>
          push((key >>> 32).toInt, key.toInt)
        }
        k += 1
      }
    }
    out.result()
  }

  // ------------------------------------------------------------- model

  /** The unknown piece — [[Tokenizer.Unk]], id 0 by convention. */
  val Unk: String = Tokenizer.Unk

  /** HF/BERT `max_input_chars_per_word` default: words longer than
    * this serve as one [UNK] (id path only — see [[textIdsBlob]]). */
  val DefaultMaxChars: Int = 100

  /**
   * A trained model: alphabet (distinct sealed symbols of the training
   * sample, UTF-8-sorted) + merges. Id assignment is the BERT vocab
   * line convention re-expressed deterministically: [UNK] = 0, then
   * the alphabet in byte order, then merge outputs in rank order —
   * a merge output colliding with an earlier piece keeps the FIRST
   * assignment (alphabet collisions are impossible by length: merge
   * outputs strip to ≥ 2 content chars, alphabet symbols have 1).
   */
  final case class Model(alphabet: Seq[String], merges: Seq[WpMerge],
      maxChars: Int = DefaultMaxChars) {

    /** (id, piece) in id order. */
    val pieces: Seq[(Long, String)] = {
      val b = Seq.newBuilder[(Long, String)]
      b += ((0L, Unk))
      var id = 1L
      val seen = scala.collection.mutable.HashSet.empty[String]
      alphabet.foreach { a =>
        if (seen.add(a)) { b += ((id, a)); id += 1 }
      }
      merges.foreach { m =>
        val p = merged(m.left, m.right)
        if (seen.add(p)) { b += ((id, p)); id += 1 }
      }
      b.result()
    }

    /** piece → id (pieces are unique by construction). */
    lazy val idOf: Map[String, Long] = pieces.map(_.swap).toMap

    /** The greedy-serving vocabulary (every piece except [UNK], which
      * the kernel emits as a literal, never matches). */
    lazy val vocab: Tokenizer.Vocab =
      Tokenizer.Vocab(pieces.collect { case (_, p) if p != Unk => p })
  }

  /** Train + assemble the model from a corpus in one call. */
  def trainModel(docs: DataFrame, textCol: String, topK: Int,
      numMerges: Int): Model = {
    val sample = wordSample(docs, textCol, topK)
    modelOf(sample, train(sample, numMerges))
  }

  /** Model of (sample, merges): the alphabet is every distinct sealed
    * symbol of the sample, sorted in (ASCII ⊆) UTF-8 byte order. */
  def modelOf(sample: Seq[(String, Long)], merges: Seq[WpMerge]): Model =
    Model(sample.iterator.flatMap(s => sealWp(s._1))
      .toSeq.distinct.sorted, merges)

  /** The trained merge table as a DataFrame — integer-exact score
    * components, the [[Bpe.trainedMergesDf]] shape. */
  def trainedMergesDf(spark: SparkSession, docs: DataFrame,
      textCol: String, topK: Int, numMerges: Int): DataFrame = {
    import spark.implicits._
    train(wordSample(docs, textCol, topK), numMerges)
      .map(m => (m.rank, m.left, m.right, m.pairCount, m.leftCount,
        m.rightCount))
      .toDF("rank", "lhs", "rhs", "pair_count", "lhs_count", "rhs_count")
  }

  /** The trained vocabulary with BERT-convention ids. */
  def trainedVocabDf(spark: SparkSession, docs: DataFrame,
      textCol: String, topK: Int, numMerges: Int): DataFrame = {
    import spark.implicits._
    trainModel(docs, textCol, topK, numMerges)
      .pieces.toDF("id", "piece")
  }

  /** Persist the model as a standard BERT `vocab.txt` — one piece per
    * line in id order ([UNK] on line 0). [[Tokenizer.loadVocab]] /
    * [[VocabRegistry.register]] consume it directly (bracketed
    * specials are dropped from the match tables there — the greedy
    * kernel emits [UNK] as a literal). */
  def writeVocabTxt(model: Model, path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p,
      model.pieces.map(_._2).mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  // ------------------------------------------------------ id serving

  private val FieldSep = '\u0001'
  private val EntrySep = '\u0002'

  /** Serialize (pieces+ids, unk id, maxChars) to the literal blob that
    * rides the id-serving plan: `maxChars ␂ unkId ␂ piece␁id ␂ …`.
    * Pieces never contain the separators (ASCII `[a-z0-9#]` plus the
    * bracketed unk, all above U+0002 — and [[WordPieceArtifacts]]
    * refuses foreign pieces containing them). */
  def blob(model: Model): String =
    blobOf(model.pieces, 0L, model.maxChars)

  /** Blob of an explicit (id, piece) assignment — the artifact-load
    * path, where the FILE's ids (and its own unk id) are authoritative. */
  def blobOf(pieces: Seq[(Long, String)], unkId: Long,
      maxChars: Int): String = {
    val sb = new java.lang.StringBuilder(pieces.length * 12)
    sb.append(maxChars).append(EntrySep).append(unkId)
    pieces.foreach { case (id, p) =>
      require(p.indexOf(FieldSep) < 0 && p.indexOf(EntrySep) < 0,
        s"piece contains a reserved separator: ${p.length} chars")
      sb.append(EntrySep).append(p).append(FieldSep).append(id)
    }
    sb.toString
  }

  private final case class Parsed(vocab: Tokenizer.Vocab,
      idOf: java.util.HashMap[String, java.lang.Long], unkId: Long,
      maxChars: Int)

  private val models = new BlobMemo[Parsed]({ b =>
    val parts = b.split(EntrySep)
    val maxChars = parts(0).toInt
    val unkId = parts(1).toLong
    val idOf = new java.util.HashMap[String, java.lang.Long](parts.length * 2)
    val pieces = Seq.newBuilder[String]
    var i = 2
    while (i < parts.length) {
      val e = parts(i)
      val j = e.lastIndexOf(FieldSep)
      val piece = e.substring(0, j)
      idOf.put(piece, java.lang.Long.valueOf(e.substring(j + 1).toLong))
      pieces += piece
      i += 1
    }
    Parsed(
      Tokenizer.Vocab(pieces.result().filterNot(q =>
        q.startsWith("[") && q.endsWith("]"))),
      idOf, unkId, maxChars)
  })

  private val preTokenRe = java.util.regex.Pattern.compile("[a-z0-9]+")

  /**
   * TEXT-level id-serving kernel (one StaticInvoke per document):
   * lowercase, `[a-z0-9]+` pre-tokens, then per word the EXACT HF
   * `WordPiece` model semantics — words longer than `max_input_chars
   * _per_word` are one unk id, and a word where greedy matching FAILS
   * at any cursor is one unk id for the WHOLE word (HF's `is_bad`
   * flag). This deliberately differs from the legacy string kernel
   * [[Tokenizer.wordPieces]], whose documented [UNK]-consumes-the-rest
   * semantics keep the pieces already found; artifact-faithful id
   * serving follows the file format's reference implementation.
   */
  def textIdsBlob(text: String, blobRef: AnyRef,
      blobStr: => String): Array[Long] = {
    if (text == null) return Array.empty
    val p = models(blobRef, blobStr)
    val m = preTokenRe.matcher(text.toLowerCase(java.util.Locale.ROOT))
    val out = new scala.collection.mutable.ArrayBuffer[Long](32)
    while (m.find()) {
      val word = m.group()
      if (word.length > p.maxChars) out += p.unkId
      else {
        val mark = out.length
        var pos = 0
        var bad = false
        while (pos < word.length && !bad) {
          val (table, maxLen) =
            if (pos == 0) (p.vocab.startByLen, p.vocab.maxStartLen)
            else (p.vocab.contByLen, p.vocab.maxContLen)
          var l = math.min(maxLen, word.length - pos)
          var found = 0
          while (l >= 1 && found == 0) {
            if (table.getOrElse(l, Set.empty)
                .contains(word.substring(pos, pos + l))) found = l
            l -= 1
          }
          if (found == 0) bad = true
          else {
            val piece = if (pos == 0) word.substring(0, found)
              else "##" + word.substring(pos, pos + found)
            val id = p.idOf.get(piece)
            // every matchable piece came from the blob's vocab, so the
            // id lookup cannot miss; guard anyway (corrupt blob)
            if (id == null) throw new IllegalStateException(
              s"wordpiece blob vocab lookup miss: $piece")
            out += id.longValue()
            pos += found
          }
        }
        if (bad) { out.remove(mark, out.length - mark); out += p.unkId }
      }
    }
    out.toArray
  }

  // ------------------------------------------------ oracle SQL emission

  private val O = Bpe.Open.toString
  private val C = Bpe.Close.toString

  /** Sealed form of word expression `e` in SQL: first char plain, the
    * rest "##"-prefixed, each symbol bracketed. */
  private def sealSql(e: String): String =
    s"'$O' || substr($e, 1, 1) || '$C' || CASE WHEN length($e) > 1 THEN " +
      s"regexp_replace(substr($e, 2), '(.)', '$O##\\1$C', 'g') ELSE '' END"

  /** Per-step CTEs `s{k}/x{k}/c{k}/p{k}/m{k}/v{k}` + the `allm` union.
    * `m{k}` carries the argmax pair with its exact count components
    * and merged output; the ORDER BY replays the engine's (IEEE double
    * score desc, count desc, lhs, rhs) total order — see the object
    * doc for the bit-identity argument. */
  private def mergeSteps(numMerges: Int): (String, String) = {
    val steps = (1 to numMerges).map { k =>
      s"""s$k AS (SELECT freq, string_split(trim(sym, '$O$C'), '$C$O') AS syms FROM v${k - 1}),
x$k AS MATERIALIZED (SELECT freq, syms, len(syms) AS n, CAST(i AS INT) AS i
        FROM s$k, unnest(range(1, len(syms) + 1)) AS t(i)),
c$k AS (SELECT syms[i] AS s, CAST(sum(freq) AS BIGINT) AS c FROM x$k GROUP BY 1),
p$k AS (SELECT syms[i] AS lhs, syms[i + 1] AS rhs, CAST(sum(freq) AS BIGINT) AS cnt
        FROM x$k WHERE i < n GROUP BY 1, 2),
m$k AS MATERIALIZED (
  SELECT p.lhs, p.rhs, p.cnt, cl.c AS lc, cr.c AS rc,
    p.lhs || CASE WHEN p.rhs LIKE '##%' THEN substr(p.rhs, 3) ELSE p.rhs END AS mout
  FROM p$k p JOIN c$k cl ON cl.s = p.lhs JOIN c$k cr ON cr.s = p.rhs
  ORDER BY CAST(p.cnt AS DOUBLE) / (CAST(cl.c AS DOUBLE) * CAST(cr.c AS DOUBLE)) DESC,
    p.cnt DESC, p.lhs, p.rhs
  LIMIT 1),
v$k AS MATERIALIZED (SELECT word, freq,
  replace(sym, '$O' || lhs || '$C$O' || rhs || '$C', '$O' || mout || '$C') AS sym
  FROM v${k - 1} CROSS JOIN m$k)"""
    }.mkString(",\n")
    val union = (1 to numMerges).map(k =>
      s"SELECT ${k - 1} AS rank, lhs, rhs, cnt AS pair_count, " +
        s"lc AS lhs_count, rc AS rhs_count, mout FROM m$k")
      .mkString("\nUNION ALL\n")
    (steps, union)
  }

  /** Training replay over the `[a-z0-9]+` word source: bounded type
    * sample, sealed `v0`, then the per-step argmax chain. */
  private def trainCtes(numMerges: Int, topK: Int): String = {
    val (steps, union) = mergeSteps(numMerges)
    s"""tkx AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
       FROM documents),
wc AS (SELECT word, count(*) AS freq FROM tkx GROUP BY word),
ws AS (SELECT word, freq FROM wc ORDER BY freq DESC, word LIMIT $topK),
v0 AS MATERIALIZED (SELECT word, freq, ${sealSql("word")} AS sym FROM ws),
$steps,
allm AS MATERIALIZED (
$union)"""
  }

  /** Full oracle for the merge-table query. */
  def oracleTrainSql(numMerges: Int, topK: Int): String =
    s"""WITH ${trainCtes(numMerges, topK)}
SELECT rank, lhs, rhs, pair_count, lhs_count, rhs_count
FROM allm ORDER BY rank"""

  /** Id-assignment CTEs over a trained `allm`/`v0` → `vocab(id,
    * piece)`: [UNK] = 0, alphabet in binary order, then merge outputs
    * at first-occurrence rank (alphabet collisions excluded on both
    * sides — impossible by length, guarded anyway). */
  private val vocabCtes: String = s"""alpha AS (
  SELECT DISTINCT unnest(string_split(trim(sym, '$O$C'), '$C$O')) AS piece
  FROM v0),
aid AS (SELECT piece, row_number() OVER (ORDER BY piece) AS id FROM alpha),
mfirst AS (SELECT mout AS piece, min(rank) AS mr FROM allm
           WHERE mout NOT IN (SELECT piece FROM alpha) GROUP BY 1),
mid AS (SELECT piece,
          (SELECT count(*) FROM alpha) + row_number() OVER (ORDER BY mr) AS id
        FROM mfirst),
vocab AS (SELECT CAST(0 AS BIGINT) AS id, '$Unk' AS piece
  UNION ALL SELECT CAST(id AS BIGINT) AS id, piece FROM aid
  UNION ALL SELECT CAST(id AS BIGINT) AS id, piece FROM mid)"""

  /** Full oracle for the vocab query: replay training, then ids. */
  def oracleVocabSql(numMerges: Int, topK: Int): String =
    s"""WITH ${trainCtes(numMerges, topK)},
$vocabCtes
SELECT id, piece FROM vocab ORDER BY id"""

  /** Greedy longest-match segmentation CTEs under the DERIVED `vocab`
    * relation (contrast [[Tokenizer.oracleSegCtes]], which inlines a
    * LITERAL vocabulary): per word TYPE, the best match length at
    * every cursor is precomputed by a non-recursive prefix join
    * (`best`), then a recursive walk follows the cursor — ending in
    * `wseg(word, ps, ids, np, bad)` (space-joined pieces / ids, piece
    * count, greedy-failure flag). */
  private def segCtes: String = s"""vstart AS (
  SELECT piece FROM vocab WHERE id > 0 AND piece NOT LIKE '##%'),
vcont AS (SELECT substr(piece, 3) AS stem FROM vocab WHERE piece LIKE '##%'),
dw AS (SELECT doc_id, generate_subscripts(wl, 1) AS wpos, unnest(wl) AS word
       FROM (SELECT doc_id,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS wl
             FROM documents)),
wt AS (SELECT DISTINCT word FROM dw),
wpos AS (SELECT word, CAST(i AS INT) AS pos
         FROM wt, unnest(range(1, length(word) + 1)) AS t(i)),
bs AS (SELECT p.word, p.pos, max(length(v.piece)) AS plen
       FROM wpos p JOIN vstart v
         ON v.piece = substr(p.word, p.pos, length(v.piece))
       WHERE p.pos = 1 GROUP BY 1, 2),
bc AS (SELECT p.word, p.pos, max(length(v.stem)) AS plen
       FROM wpos p JOIN vcont v
         ON v.stem = substr(p.word, p.pos, length(v.stem))
       WHERE p.pos > 1 GROUP BY 1, 2),
best AS (SELECT word, pos, plen FROM bs
         UNION ALL SELECT word, pos, plen FROM bc),
seg(word, pos, piece, id, ord) AS (
  SELECT word, 1, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), 0 FROM wt
  UNION ALL
  SELECT s.word,
    CASE WHEN b.plen IS NULL THEN length(s.word) + 1
         ELSE s.pos + b.plen END,
    CASE WHEN b.plen IS NULL THEN '$Unk'
         WHEN s.pos = 1 THEN substr(s.word, s.pos, b.plen)
         ELSE '##' || substr(s.word, s.pos, b.plen) END,
    CAST(NULL AS BIGINT), s.ord + 1
  FROM seg s LEFT JOIN best b ON b.word = s.word AND b.pos = s.pos
  WHERE s.pos <= length(s.word)),
segi AS (SELECT s.word, s.ord, s.piece, v.id
         FROM seg s JOIN vocab v ON v.piece = s.piece
         WHERE s.piece IS NOT NULL),
wseg AS (SELECT word,
           string_agg(piece, ' ' ORDER BY ord) AS ps,
           string_agg(CAST(id AS VARCHAR), ' ' ORDER BY ord) AS ids,
           count(*) AS np,
           bool_or(piece = '$Unk') AS bad
         FROM segi GROUP BY word)"""

  /** Oracle for the trained-vocab PIECE serving query — the legacy
    * string kernel's semantics ([UNK] keeps the pieces found before
    * the failure, no length bound): (doc_id, n_pieces, pieces_md5). */
  def oracleEncodeSql(numMerges: Int, topK: Int): String =
    s"""WITH RECURSIVE ${trainCtes(numMerges, topK)},
$vocabCtes,
$segCtes,
docp AS (SELECT d.doc_id, CAST(sum(w.np) AS BIGINT) AS n,
           string_agg(w.ps, ' ' ORDER BY d.wpos) AS s
         FROM dw d JOIN wseg w USING (word) GROUP BY d.doc_id)
SELECT d.doc_id, coalesce(p.n, 0) AS n_pieces,
  md5(coalesce(p.s, '')) AS pieces_md5
FROM documents d LEFT JOIN docp p USING (doc_id)
ORDER BY d.doc_id"""

  /** Oracle for the per-language BYTES-PER-PIECE compression report —
    * the [[Bpe.oracleBytePretokCompressionSql]] metric for this
    * family: per-document piece counts under the trained vocab joined
    * to UTF-8 byte lengths, ratio via the repo's exact half-up
    * integer-division idiom. */
  def oracleCompressionSql(numMerges: Int, topK: Int,
      maxChars: Int = DefaultMaxChars): String =
    s"""WITH RECURSIVE ${trainCtes(numMerges, topK)},
$vocabCtes,
$segCtes,
wpn AS (SELECT word,
          CASE WHEN length(word) > $maxChars OR bad THEN 1 ELSE np END AS np
        FROM wseg),
docp AS (SELECT d.doc_id, CAST(sum(w.np) AS BIGINT) AS n
         FROM dw d JOIN wpn w USING (word) GROUP BY d.doc_id),
pt AS (SELECT d.doc_id, d.lang, CAST(strlen(d.text) AS BIGINT) AS b,
         CAST(coalesce(p.n, 0) AS BIGINT) AS t
       FROM documents d LEFT JOIN docp p USING (doc_id)),
g AS (SELECT lang, CAST(sum(b) AS BIGINT) AS n_bytes,
        CAST(sum(t) AS BIGINT) AS n_pieces
      FROM pt GROUP BY 1)
SELECT lang, n_bytes, n_pieces,
  ((2 * n_bytes * 10000 + n_pieces) // (2 * n_pieces)) / 10000.0
    AS bytes_per_piece
FROM g ORDER BY lang"""

  /** Oracle for the ID serving query (HF model semantics: over-long or
    * greedy-failed words are ONE unk id): (doc_id, n_pieces, ids_md5). */
  def oracleEncodeIdsSql(numMerges: Int, topK: Int,
      maxChars: Int = DefaultMaxChars): String =
    s"""WITH RECURSIVE ${trainCtes(numMerges, topK)},
$vocabCtes,
$segCtes,
wp AS (SELECT word,
         CASE WHEN length(word) > $maxChars OR bad THEN '0' ELSE ids END AS ids,
         CASE WHEN length(word) > $maxChars OR bad THEN 1 ELSE np END AS np
       FROM wseg),
docp AS (SELECT d.doc_id, CAST(sum(w.np) AS BIGINT) AS n,
           string_agg(w.ids, ' ' ORDER BY d.wpos) AS s
         FROM dw d JOIN wp w USING (word) GROUP BY d.doc_id)
SELECT d.doc_id, coalesce(p.n, 0) AS n_pieces,
  md5(coalesce(p.s, '')) AS ids_md5
FROM documents d LEFT JOIN docp p USING (doc_id)
ORDER BY d.doc_id"""
}
