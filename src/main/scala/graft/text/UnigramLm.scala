package graft.text

import graft.dedup.TextDedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Unigram language-model subword tokenizer (Kudo 2018, the
 * SentencePiece unigram algorithm) trained in-engine — the third
 * tokenizer family next to greedy wordpiece ([[Tokenizer]]) and merge
 * BPE ([[Bpe]]), and the one modern multilingual pipelines (T5, ALBERT,
 * XLNet, LLaMA-style SentencePiece vocabs) actually ship.
 *
 * Training is VITERBI-EM (hard EM), the deterministic variant of
 * Kudo's E/M loop, over a BOUNDED word-type sample (the same top-`topK`
 * (freq desc, word asc) driver sample as [[Bpe.wordSample]]):
 *
 *  1. SEED: every substring of the sampled types up to `maxPieceLen`
 *     code points, weighted by word frequency × occurrence count; the
 *     vocabulary keeps the top `seedSize` by (weight desc, piece asc)
 *     PLUS every single-code-point substring (coverage — any sampled
 *     word stays segmentable).
 *  2. E-STEP: Viterbi-best segmentation of each sampled type under the
 *     current piece scores; piece counts accumulate word frequency.
 *  3. M-STEP: piece score = ln(count / totalCount). Pieces with zero
 *     count are PRUNED (the EM shrink), except single-code-point
 *     pieces, which are floored at [[UnkSu]] so coverage never breaks.
 *
 * Determinism discipline: Viterbi runs in exact LONG micro-unit
 * arithmetic — scores are ln probabilities rounded to 6 dp, cast
 * DECIMAL(28,6), scaled ×10⁶ to BIGINT (the established
 * round/DECIMAL tail every LM oracle uses, [[LanguageModel]]). The one
 * transcendental step (ln) is computed IN-PLAN over a bounded
 * LocalRelation and collected (≤ vocab rows — the
 * [[LogisticRegression]] iteration pattern), so driver arithmetic
 * never has to reproduce engine rounding: everything the driver does
 * is integer. Viterbi ties break on a TOTAL order: score desc, piece
 * count asc, then the U+001F-joined piece path in unsigned UTF-8
 * byte order — the collation Spark UTF8String and DuckDB VARCHAR
 * share.
 *
 * The DuckDB oracle REPLAYS the whole trainer with no baked-in
 * literals ([[oracleVocabSql]]): seed enumeration as a lateral-unnest
 * aggregation, each EM iteration as a per-word position→score map
 * (`map_from_entries`) plus a RECURSIVE list-of-struct Viterbi DP CTE,
 * and the M-step re-score as the same round(ln)/DECIMAL expression.
 * Encoding ([[oracleEncodeSql]]) replays training, then runs the same
 * DP over the DISTINCT corpus words and reassembles documents.
 *
 * Scale shape: training touches the corpus once (token explode + hash
 * agg for the sample) and is otherwise driver-bounded (≤ topK types,
 * ≤ seedSize + alphabet pieces). Encoding is MAP-SIDE ONLY: the model
 * rides the plan as a string literal blob (cluster-safe by
 * construction — no driver state, no side files), parsed once per
 * executor JVM and memoized; per word one O(len × maxPieceLen) DP in
 * a codegen'd StaticInvoke kernel; no shuffle, no join.
 */
object UnigramLm {

  /** Maximum piece length in code points. */
  val MaxPieceLen = 8
  /** Score floor (ln micro units, −20.000000) for single-code-point
    * pieces with zero count and for characters unseen in training —
    * far below any observed-piece score at realistic vocab sizes, so
    * fallback pieces never outcompete learned ones. */
  val UnkSu: Long = -20000000L
  /** Path separator for the Viterbi piece path (also the tie-break
    * representation — both engines compare the joined path bytewise). */
  val Sep: Char = '\u001F'
  private val FieldSep = '\u0001'
  private val EntrySep = '\u0002'

  /** One vocabulary entry: final E-step count and ln-micro score. */
  final case class Entry(piece: String, cnt: Long, scoreU: Long)

  /** Unsigned UTF-8 byte comparison — Spark UTF8String / DuckDB binary
    * collation (Java UTF-16 compareTo diverges above the BMP). */
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

  /** UTF-16 offsets of the code-point boundaries of `w` (length
    * #codepoints + 1) — positions are CODE POINTS everywhere, matching
    * Spark `substring`/`length` and DuckDB `substr`/`length`. */
  private def cpOffsets(w: String): Array[Int] = {
    val b = Array.newBuilder[Int]
    b += 0
    var i = 0
    while (i < w.length) {
      i += Character.charCount(w.codePointAt(i))
      b += i
    }
    b.result()
  }

  private def cpCount(w: String): Int = cpOffsets(w).length - 1

  /**
   * Viterbi DP over one word: maximize total piece score in exact LONG
   * micro units; ties → fewer pieces, then lexicographically smallest
   * U+001F-joined path (UTF-8 bytes). Characters absent from the
   * model fall back to [[UnkSu]] as single-code-point pieces, so every
   * word segments. Returns (total score, path) — path carries a
   * leading separator per piece.
   */
  def viterbiPath(word: String, score: collection.Map[String, Long],
      maxPieceLen: Int = MaxPieceLen): (Long, String) = {
    val off = cpOffsets(word)
    val n = off.length - 1
    if (n == 0) return (0L, "")
    val su = new Array[Long](n + 1)
    val np = new Array[Int](n + 1)
    val path = new Array[String](n + 1)
    path(0) = ""
    var p = 1
    while (p <= n) {
      var bestSu = Long.MinValue
      var bestNp = 0
      var bestPath: String = null
      val lmax = math.min(p, maxPieceLen)
      var l = 1
      while (l <= lmax) {
        val piece = word.substring(off(p - l), off(p))
        val s = score.get(piece) match {
          case Some(x) => x
          case None => if (l == 1) UnkSu else Long.MinValue
        }
        if (s != Long.MinValue) {
          val cSu = su(p - l) + s
          val cNp = np(p - l) + 1
          val cPath = path(p - l) + Sep + piece
          val better =
            if (bestPath == null) true
            else if (cSu != bestSu) cSu > bestSu
            else if (cNp != bestNp) cNp < bestNp
            else utf8Compare(cPath, bestPath) < 0
          if (better) { bestSu = cSu; bestNp = cNp; bestPath = cPath }
        }
        l += 1
      }
      su(p) = bestSu; np(p) = bestNp; path(p) = bestPath
      p += 1
    }
    (su(n), path(n))
  }

  private def splitPath(path: String): Array[String] =
    path.split(Sep).filter(_.nonEmpty)

  /** Viterbi segmentation of one word — the kernel entry point
    * ([[graft.functions.GraftFunctions.unigram_word_pieces]]) and the
    * spec-level reference are the same function. */
  def segment(word: String, score: collection.Map[String, Long],
      maxPieceLen: Int = MaxPieceLen): Array[String] =
    splitPath(viterbiPath(word, score, maxPieceLen)._2)

  /** Bounded deterministic word-type sample: top `topK` types by
    * (frequency desc, word asc). Types containing the path/blob
    * control characters are excluded (pieces must never contain them);
    * at encode time such words still segment via the fallback path. */
  def sampleWords(docs: DataFrame, textCol: String,
      topK: Int): Seq[(String, Long)] =
    docs.select(explode(TextDedup.tokens(col(textCol))).as("word"))
      .where(!col("word").contains(FieldSep.toString) &&
        !col("word").contains(EntrySep.toString) &&
        !col("word").contains(Sep.toString))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word").asc)
      .limit(topK)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Substring weights over the sample: each substring up to
    * `maxPieceLen` code points credited freq per occurrence
    * (overlapping occurrences all count). */
  private def substringWeights(sample: Seq[(String, Long)],
      maxPieceLen: Int): Seq[(String, Long)] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    sample.foreach { case (w, f) =>
      val off = cpOffsets(w)
      val n = off.length - 1
      var s = 0
      while (s < n) {
        var l = 1
        val lmax = math.min(maxPieceLen, n - s)
        while (l <= lmax) {
          val piece = w.substring(off(s), off(s + l))
          m.update(piece, m.getOrElse(piece, 0L) + f)
          l += 1
        }
        s += 1
      }
    }
    m.toSeq
  }

  /** ln(cnt/tot) → 6 dp → DECIMAL(28,6) → ×10⁶ BIGINT, computed
    * IN-PLAN over a bounded LocalRelation so the engine's own
    * round/log semantics produce the scores (no driver replication of
    * engine rounding — the [[LogisticRegression]] iteration pattern). */
  private def scoresInPlan(spark: SparkSession, rows: Seq[(String, Long)],
      tot: Long): Map[String, Long] = {
    if (rows.isEmpty) return Map.empty
    import spark.implicits._
    rows.toDF("piece", "cnt")
      .select(col("piece"),
        (round(log(col("cnt").cast("double") / lit(tot).cast("double")), 6)
          .cast("decimal(28,6)") * lit(1000000L)).cast("long").as("su"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** [[train]] plus the per-iteration corpus Viterbi likelihood (micro
    * units, frequency-weighted, scored under the ENTERING model) — the
    * hard-EM monotonicity diagnostic the spec asserts. */
  def trainWithLikelihoods(spark: SparkSession, docs: DataFrame,
      textCol: String, topK: Int, seedSize: Int,
      maxPieceLen: Int = MaxPieceLen,
      emIters: Int = 3): (Seq[Entry], Seq[Long]) = {
    require(emIters >= 1, "emIters must be >= 1")
    val sample = sampleWords(docs, textCol, topK)
    if (sample.isEmpty) return (Seq.empty, Seq.empty)
    // seed: top seedSize substrings by (weight desc, piece asc) plus
    // every single-code-point substring (coverage)
    val ranked = substringWeights(sample, maxPieceLen).sortWith {
      case ((p1, w1), (p2, w2)) =>
        if (w1 != w2) w1 > w2 else utf8Compare(p1, p2) < 0
    }
    val kept = (ranked.take(seedSize) ++
      ranked.filter { case (p, _) => cpCount(p) == 1 }).distinct
    val singles = kept.collect { case (p, _) if cpCount(p) == 1 => p }
    var score: collection.Map[String, Long] =
      scoresInPlan(spark, kept, kept.map(_._2).sum)
    val lik = Seq.newBuilder[Long]
    var model: Seq[Entry] = Seq.empty
    var t = 1
    while (t <= emIters) {
      // E-step: Viterbi counts over the sample (pure LONG arithmetic)
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      var v = 0L
      sample.foreach { case (w, f) =>
        val (su, path) = viterbiPath(w, score, maxPieceLen)
        v += su * f
        splitPath(path).foreach(p =>
          counts.update(p, counts.getOrElse(p, 0L) + f))
      }
      lik += v
      // M-step: re-score counted pieces in-plan; prune zero-count
      // pieces except single-code-point ones (floored — coverage)
      val counted = counts.toSeq.sortWith((a, b) => utf8Compare(a._1, b._1) < 0)
      val tot = counted.map(_._2).sum
      val newScores = scoresInPlan(spark, counted, tot)
      val floored = singles.filterNot(counts.contains)
      model = (counted.map { case (p, c) => Entry(p, c, newScores(p)) } ++
        floored.map(p => Entry(p, 0L, UnkSu)))
        .sortWith((a, b) => utf8Compare(a.piece, b.piece) < 0)
      score = model.iterator.map(e => e.piece -> e.scoreU).toMap
      t += 1
    }
    (model, lik.result())
  }

  /** Viterbi-EM training — final vocabulary (piece, count, score),
    * sorted by piece in UTF-8 byte order. */
  def train(spark: SparkSession, docs: DataFrame, textCol: String,
      topK: Int, seedSize: Int, maxPieceLen: Int = MaxPieceLen,
      emIters: Int = 3): Seq[Entry] =
    trainWithLikelihoods(spark, docs, textCol, topK, seedSize,
      maxPieceLen, emIters)._1

  /** The trained vocabulary as a DataFrame (piece, cnt, score_u) —
    * scores are the exact longs the encode kernel uses. */
  def trainedVocabDf(spark: SparkSession, docs: DataFrame, textCol: String,
      topK: Int, seedSize: Int, maxPieceLen: Int = MaxPieceLen,
      emIters: Int = 3): DataFrame = {
    import spark.implicits._
    train(spark, docs, textCol, topK, seedSize, maxPieceLen, emIters)
      .map(e => (e.piece, e.cnt, e.scoreU))
      .toDF("piece", "cnt", "score_u")
  }

  // ---------------------------------------------------- model transport

  /** Serialize the model to the literal blob that rides the encode
    * plan: entries U+0002-separated, piece U+0001 score each. Pieces
    * never contain the separators ([[sampleWords]] filters them). */
  def blob(model: Seq[Entry]): String =
    model.sortWith((a, b) => utf8Compare(a.piece, b.piece) < 0)
      .map(e => e.piece + FieldSep + e.scoreU)
      .mkString(EntrySep.toString)

  private val models = new BlobMemo[Map[String, Long]]({ b =>
    if (b.isEmpty) Map.empty
    else b.split(EntrySep).iterator.map { e =>
      val i = e.indexOf(FieldSep)
      e.substring(0, i) -> e.substring(i + 1).toLong
    }.toMap
  })

  /** Kernel entry: Viterbi pieces of one word under a blob model.
    * `blobRef` is the plan literal the [[BlobMemo]] keys on; `blobStr`,
    * its text, is evaluated only on a memo miss. */
  def wordPiecesBlob(word: String, blobRef: AnyRef, blobStr: => String,
      maxPieceLen: Int): Array[String] =
    segment(word, models(blobRef, blobStr), maxPieceLen)

  /** [[wordPiecesBlob]] keyed on the blob string itself. */
  def wordPiecesBlob(word: String, blobStr: String,
      maxPieceLen: Int): Array[String] =
    wordPiecesBlob(word, blobStr, blobStr, maxPieceLen)

  // ---------------------------------------------------------- encoding

  /**
   * Apply a trained model to every document — map-side only (the model
   * rides the plan as a literal; one codegen'd kernel DP per word).
   * Output: doc_id, n_pieces, pieces_md5 (md5 of all pieces in
   * document order, single-space-joined — the value-check digest,
   * [[Bpe.encodeDocs]] shape).
   */
  def encodeDocs(docs: DataFrame, textCol: String, idCol: String,
      model: Seq[Entry], maxPieceLen: Int = MaxPieceLen): DataFrame = {
    val b = lit(blob(model))
    val pieces = flatten(transform(TextDedup.tokens(col(textCol)),
      w => graft.functions.GraftFunctions.unigram_word_pieces(w, b, maxPieceLen)))
    docs.select(col(idCol).as("doc_id"), pieces.as("__p"))
      .select(col("doc_id"),
        size(col("__p")).cast("long").as("n_pieces"),
        md5(array_join(col("__p"), " ")).as("pieces_md5"))
  }

  /** Persist the trained vocabulary (train-once/serve-many — the
    * [[Bpe.writeMerges]] pattern): one tiny parquet of
    * (piece, cnt, score_u). */
  def writeModel(spark: SparkSession, docs: DataFrame, textCol: String,
      topK: Int, seedSize: Int, maxPieceLen: Int, emIters: Int,
      path: String): Unit =
    trainedVocabDf(spark, docs, textCol, topK, seedSize, maxPieceLen,
      emIters).repartition(1).write.mode("overwrite").parquet(path)

  /** Load a persisted vocabulary — a bounded (vocab-sized) collect. */
  def loadModel(spark: SparkSession, path: String): Seq[Entry] =
    spark.read.parquet(path).select("piece", "cnt", "score_u")
      .collect()
      .map(r => Entry(r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq

  /** [[encodeDocs]] under a persisted model — the stored scores are
    * exactly what the kernel applies, so this is bit-identical to
    * encoding with the freshly trained model (same oracle). */
  def encodeFromModel(spark: SparkSession, docs: DataFrame,
      textCol: String, idCol: String, path: String,
      maxPieceLen: Int = MaxPieceLen): DataFrame =
    encodeDocs(docs, textCol, idCol, loadModel(spark, path), maxPieceLen)

  // ------------------------------------------------ oracle SQL emission

  private val oToks =
    raw"""list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')"""

  /** round(ln(cnt/tot),6) → DECIMAL(28,6) → ×10⁶ BIGINT. */
  private def suExpr(cnt: String): String =
    s"CAST(CAST(round(ln(CAST($cnt AS DOUBLE) / tot), 6) " +
      s"AS DECIMAL(28,6)) * 1000000 AS BIGINT)"

  /** Per-word (position, length) → score map over `wordsRel`(word):
    * vocabulary scores from `scoreRel`(piece, su), single-code-point
    * fallback at [[UnkSu]]. Key = start*32 + len (len ≤ maxPieceLen
    * ≤ 31). */
  private def pmCte(name: String, wordsRel: String, scoreRel: String,
      maxPieceLen: Int): String =
    s"""$name AS MATERIALIZED (
  SELECT word, map_from_entries(list(struct_pack(k := CAST(s*32 + l AS INT), v := su)
                                     ORDER BY s*32 + l)) AS m
  FROM (SELECT g.word, g.s, g.l,
          coalesce(sc.su, CASE WHEN g.l = 1 THEN CAST($UnkSu AS BIGINT) END) AS su
        FROM (SELECT word, s, l, substr(word, CAST(s AS INT), CAST(l AS INT)) AS piece
              FROM $wordsRel, unnest(range(1, length(word)+1)) u(s),
                   unnest(range(1, $maxPieceLen+1)) v(l)
              WHERE s + l <= length(word) + 1) g
        LEFT JOIN $scoreRel sc ON sc.piece = g.piece) q
  WHERE su IS NOT NULL
  GROUP BY word)"""

  /** Recursive Viterbi DP over `pmName`'s words: list-of-struct state
    * bests[p+1] = (a: score, b: pieces, c: path) for the length-p
    * prefix; candidates sort by (score desc, pieces asc, path asc) via
    * the negated-score struct natural order — the exact driver
    * tie-break. */
  private def dpCte(name: String, pmName: String, maxPieceLen: Int): String =
    s"""$name(word, i, bests, m) AS (
  SELECT word, 0, [struct_pack(a := CAST(0 AS BIGINT), b := 0, c := '')], m FROM $pmName
  UNION ALL
  SELECT word, i + 1,
    list_append(bests,
      list_transform([
        list_sort(list_transform(
          list_filter(range(1, least(i+1, $maxPieceLen)+1),
            l -> len(map_extract(m, CAST((i+2-l)*32 + l AS INT))) > 0),
          l -> struct_pack(
            a := -(struct_extract(bests[CAST(i+2-l AS INT)], 'a')
                   + map_extract(m, CAST((i+2-l)*32 + l AS INT))[1]),
            b := struct_extract(bests[CAST(i+2-l AS INT)], 'b') + 1,
            c := struct_extract(bests[CAST(i+2-l AS INT)], 'c') || chr(31)
                 || substr(word, CAST(i+2-l AS INT), CAST(l AS INT)))))[1]
      ], y -> struct_pack(a := -struct_extract(y, 'a'),
                          b := struct_extract(y, 'b'),
                          c := struct_extract(y, 'c')))[1]),
    m
  FROM $name WHERE i < length(word))"""

  /** Best-path relation (word, path) off a finished DP. */
  private def fbCte(name: String, dpName: String): String =
    s"""$name AS MATERIALIZED (
  SELECT word, struct_extract(bests[CAST(length(word) AS INT) + 1], 'c') AS path
  FROM $dpName WHERE i = length(word))"""

  /** Training CTE chain: sample, seed, then per EM iteration the score
    * map, DP, best paths, counts and re-score — ending in relation
    * sc{emIters}(piece, cnt, su). */
  private def vocabCtes(topK: Int, seedSize: Int, maxPieceLen: Int,
      emIters: Int): String = {
    val iters = (1 to emIters).map { t =>
      s"""${pmCte(s"pm$t", "wsu", s"sc${t - 1}", maxPieceLen)},
${dpCte(s"dp$t", s"pm$t", maxPieceLen)},
${fbCte(s"fb$t", s"dp$t")},
ct$t AS MATERIALIZED (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
  FROM (SELECT w.freq,
          unnest(list_filter(string_split(f.path, chr(31)), x -> x <> '')) AS piece
        FROM wsu w JOIN fb$t f ON w.word = f.word) z
  GROUP BY piece),
tt$t AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM ct$t),
sc$t AS MATERIALIZED (
  SELECT piece, cnt, ${suExpr("cnt")} AS su FROM ct$t, tt$t
  UNION ALL
  SELECT v.piece, CAST(0 AS BIGINT) AS cnt, CAST($UnkSu AS BIGINT) AS su
  FROM v0 v
  WHERE length(v.piece) = 1
    AND NOT EXISTS (SELECT 1 FROM ct$t c WHERE c.piece = v.piece))"""
    }.mkString(",\n")
    s"""tku AS (SELECT unnest($oToks) AS word FROM documents),
wcu AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM tku
        WHERE strpos(word, chr(1)) = 0 AND strpos(word, chr(2)) = 0
          AND strpos(word, chr(31)) = 0
        GROUP BY word),
wsu AS MATERIALIZED (SELECT word, freq FROM wcu ORDER BY freq DESC, word LIMIT $topK),
sub0 AS (SELECT substr(word, CAST(s AS INT), CAST(l AS INT)) AS piece,
           CAST(sum(freq) AS BIGINT) AS w
         FROM wsu, unnest(range(1, length(word)+1)) u(s),
              unnest(range(1, $maxPieceLen+1)) v(l)
         WHERE s + l <= length(word) + 1
         GROUP BY 1),
rk0 AS (SELECT piece, w, row_number() OVER (ORDER BY w DESC, piece) AS rk FROM sub0),
v0 AS MATERIALIZED (SELECT piece, w FROM rk0 WHERE rk <= $seedSize OR length(piece) = 1),
t0 AS (SELECT CAST(sum(w) AS BIGINT) AS tot FROM v0),
sc0 AS MATERIALIZED (SELECT piece, ${suExpr("w")} AS su FROM v0, t0 WHERE tot > 0),
$iters"""
  }

  /** Full oracle for the trained-vocabulary query. */
  def oracleVocabSql(topK: Int, seedSize: Int,
      maxPieceLen: Int = MaxPieceLen, emIters: Int = 3): String =
    s"""WITH RECURSIVE ${vocabCtes(topK, seedSize, maxPieceLen, emIters)}
SELECT piece, cnt, su AS score_u FROM sc$emIters ORDER BY piece"""

  /** Full oracle for [[encodeDocs]] under the model the training CTEs
    * derive: the same recursive DP over the DISTINCT corpus words,
    * reassembled per document. */
  def oracleEncodeSql(topK: Int, seedSize: Int,
      maxPieceLen: Int = MaxPieceLen, emIters: Int = 3): String =
    s"""WITH RECURSIVE ${vocabCtes(topK, seedSize, maxPieceLen, emIters)},
dwu AS (SELECT doc_id, generate_subscripts(wsx, 1) AS wpos, unnest(wsx) AS word
        FROM (SELECT doc_id, $oToks AS wsx FROM documents) q),
cwu AS MATERIALIZED (SELECT DISTINCT word FROM dwu),
${pmCte("pme", "cwu", s"sc$emIters", maxPieceLen)},
${dpCte("dpe", "pme", maxPieceLen)},
${fbCte("fbe", "dpe")},
wpx AS (SELECT word, list_filter(string_split(path, chr(31)), x -> x <> '') AS pieces
        FROM fbe),
da AS (SELECT d.doc_id,
         CAST(sum(len(p.pieces)) AS BIGINT) AS n,
         string_agg(array_to_string(p.pieces, ' '), ' ' ORDER BY d.wpos) AS s
       FROM dwu d JOIN wpx p ON d.word = p.word
       GROUP BY d.doc_id)
SELECT d.doc_id, CAST(coalesce(a.n, 0) AS BIGINT) AS n_pieces,
  md5(coalesce(a.s, '')) AS pieces_md5
FROM documents d LEFT JOIN da a ON d.doc_id = a.doc_id
ORDER BY d.doc_id"""
}
