package graft.functions

/**
 * String-similarity kernels used by the matching operators.
 *
 * Semantics mirror the reference engine's fuzzy scorer
 * (reference: src/transform/entity_match.py:473-491 — RapidFuzz
 * `token_sort_ratio / 100`, with a token-Jaccard fallback): the ratio is the
 * normalized *InDel* similarity (insertions/deletions only, substitutions
 * cost 2) of the two strings after whitespace-tokenizing and sorting the
 * tokens. `sim = 1 - dist_indel / (len1 + len2)`.
 *
 * The InDel distance is computed with Myers' bit-parallel LCS algorithm
 * (Hyyrö 2004 variant) — O(ceil(n/64) * m) — with a 64-bit fast path for the
 * common case (company names are short); the pattern's match masks live in
 * a primitive [[MaskTable]]. All methods are static, null-safe at the call
 * site (wrapped via StaticInvoke with propagateNull), and deterministic, so
 * they stay inside whole-stage codegen.
 *
 * Token sorting depends on one string only. A caller that scores many
 * pairs per name (blocked matching) sorts each name once per row with
 * [[tokenSort]] and scores the pairs with [[ratio]], which is bit-identical:
 * `ratio(tokenSort(a), tokenSort(b)) == tokenSortRatio(a, b)` for non-null
 * inputs, both giving 0.0 when either side has no tokens.
 */
object SimilarityKernel extends Serializable {

  /** InDel (LCS) distance: substitutions forbidden, ins/del cost 1 each. */
  def indelDistance(s1: String, s2: String): Int = {
    val (a, b) = if (s1.length <= s2.length) (s2, s1) else (s1, s2)
    // a is the longer string; bit-vector is built over the shorter one when
    // it fits a single 64-bit word.
    if (b.isEmpty) return a.length
    val lcs =
      if (b.length <= 64) lcsBitParallel64(a, b)
      else lcsDp(a, b)
    a.length + b.length - 2 * lcs
  }

  /** Normalized InDel similarity in [0,1]: 1 - dist/(len1+len2). */
  def indelSimilarity(s1: String, s2: String): Double = {
    val total = s1.length + s2.length
    if (total == 0) return 1.0
    1.0 - indelDistance(s1, s2).toDouble / total
  }

  /** Whitespace tokens of `s`: the non-empty runs between characters of
    * Java's non-Unicode `\s` set `[ \t\n\x0B\f\r]` — exactly the tokens of
    * `s.split("\\s+").filter(_.nonEmpty)`, without compiling a regex per
    * call. U+00A0 and other Unicode spaces stay inside tokens. */
  def tokens(s: String): Array[String] = {
    val out = new java.util.ArrayList[String]()
    val n = s.length
    var i = 0
    while (i < n) {
      while (i < n && isSpace(s.charAt(i))) i += 1
      val start = i
      while (i < n && !isSpace(s.charAt(i))) i += 1
      if (i > start) out.add(s.substring(start, i))
    }
    out.toArray(new Array[String](0))
  }

  /** ' ' or U+0009..U+000D (tab, LF, VT, FF, CR). */
  @inline private def isSpace(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r')

  /** Whitespace-tokenize, sort tokens, rejoin with single spaces. */
  def tokenSort(s: String): String = {
    val toks = tokens(s)
    java.util.Arrays.sort(toks.asInstanceOf[Array[AnyRef]])
    String.join(" ", toks: _*)
  }

  /**
   * RapidFuzz-style token_sort_ratio scaled to [0,1]
   * (reference: src/transform/entity_match.py:479). Empty/blank input → 0.0
   * (reference returns 0.0 for falsy names, entity_match.py:224-225).
   */
  def tokenSortRatio(s1: String, s2: String): Double = {
    if (s1 == null || s2 == null) return 0.0
    val t1 = tokenSort(s1)
    val t2 = tokenSort(s2)
    if (t1.isEmpty || t2.isEmpty) return 0.0
    indelSimilarity(t1, t2)
  }

  /** Token-set Jaccard similarity on lowercase whitespace tokens
    * (reference: src/transform/entity_match.py:236-250). */
  def jaccardTokens(s1: String, s2: String): Double = {
    if (s1 == null || s2 == null) return 0.0
    val set1 = tokens(s1.toLowerCase).toSet
    val set2 = tokens(s2.toLowerCase).toSet
    val union = set1.union(set2).size
    if (union == 0) 0.0 else set1.intersect(set2).size.toDouble / union
  }

  /** RapidFuzz `ratio` equivalent (no token sort), scaled to [0,1]
    * (reference: src/transform/feature_engineering.py fuzz.ratio). */
  def ratio(s1: String, s2: String): Double = {
    if (s1 == null || s2 == null || s1.isEmpty || s2.isEmpty) return 0.0
    indelSimilarity(s1, s2)
  }

  /** RapidFuzz `token_set_ratio` equivalent, scaled to [0,1]: compares
    * sorted-intersection against each sorted-diff-augmented side and takes
    * the max (reference: feature_engineering.py token_set feature). */
  def tokenSetRatio(s1: String, s2: String): Double = {
    if (s1 == null || s2 == null) return 0.0
    tokenSetFromSets(tokens(s1).toSet, tokens(s2).toSet)
  }

  /**
   * All four name-similarity ratios in one pass —
   * [ratio, token_sort_ratio, token_set_ratio, partial_ratio] — sharing
   * the whitespace tokenization the individual kernels each redo.
   * Value-identical to calling the four kernels separately (asserted in
   * SimilarityKernelSpec); exists because the feature projection
   * evaluates all four per candidate pair.
   */
  def nameRatios(s1: String, s2: String): Array[Double] = {
    if (s1 == null || s2 == null) return Array(0.0, 0.0, 0.0, 0.0)
    val fuzzy = if (s1.isEmpty || s2.isEmpty) 0.0 else indelSimilarity(s1, s2)
    val t1 = tokens(s1)
    val t2 = tokens(s2)
    val sorted1 = { val a = t1.clone()
      java.util.Arrays.sort(a.asInstanceOf[Array[AnyRef]]); a.mkString(" ") }
    val sorted2 = { val a = t2.clone()
      java.util.Arrays.sort(a.asInstanceOf[Array[AnyRef]]); a.mkString(" ") }
    val tokenSort = if (sorted1.isEmpty || sorted2.isEmpty) 0.0
      else indelSimilarity(sorted1, sorted2)
    val tokenSet = tokenSetFromSets(t1.toSet, t2.toSet)
    val partial = partialRatio(s1, s2)
    Array(fuzzy, tokenSort, tokenSet, partial)
  }

  private def tokenSetFromSets(t1: Set[String], t2: Set[String]): Double = {
    if (t1.isEmpty || t2.isEmpty) return 0.0
    val inter = (t1 intersect t2).toArray.sorted.mkString(" ")
    val d1 = (t1 diff t2).toArray.sorted.mkString(" ")
    val d2 = (t2 diff t1).toArray.sorted.mkString(" ")
    val s1c = if (d1.isEmpty) inter else if (inter.isEmpty) d1 else s"$inter $d1"
    val s2c = if (d2.isEmpty) inter else if (inter.isEmpty) d2 else s"$inter $d2"
    if (inter.nonEmpty && (d1.isEmpty || d2.isEmpty)) return 1.0
    math.max(
      indelSimilarity(inter, s1c) max indelSimilarity(inter, s2c),
      indelSimilarity(s1c, s2c))
  }

  /** RapidFuzz `partial_ratio` approximation, scaled to [0,1]: best InDel
    * similarity of the shorter string against any equal-length substring
    * window of the longer (exact for the common short-name case). */
  def partialRatio(s1: String, s2: String): Double = {
    if (s1 == null || s2 == null || s1.isEmpty || s2.isEmpty) return 0.0
    val (shorter, longer) = if (s1.length <= s2.length) (s1, s2) else (s2, s1)
    if (shorter.length == longer.length) return indelSimilarity(shorter, longer)
    val m = shorter.length
    if (m > 64) {
      // rare long-name fallback: per-window DP
      var best = 0.0
      var i = 0
      val n = longer.length - m
      while (i <= n && best < 1.0) {
        val sim = indelSimilarity(shorter, longer.substring(i, i + m))
        if (sim > best) best = sim
        i += 1
      }
      return best
    }
    // Bit-parallel fast path: the pattern (shorter) is constant across
    // windows, so its match-mask table is built ONCE; each window is
    // scanned in place (no substring allocation, no per-window table).
    val masks = new MaskTable(shorter)
    val full = if (m == 64) -1L else (1L << m) - 1
    var bestLcs = 0
    var i = 0
    val n = longer.length - m
    while (i <= n && bestLcs < m) {
      var s = full
      var j = i
      val end = i + m
      while (j < end) {
        val u = s & masks.get(longer.charAt(j))
        s = (s + u) | (s - u)
        j += 1
      }
      val lcs = m - java.lang.Long.bitCount(s & full)
      if (lcs > bestLcs) bestLcs = lcs
      i += 1
    }
    // max over windows of indelSimilarity, computed from the best LCS
    // (monotone); same float expression as indelSimilarity for bit parity
    1.0 - (2 * (m - bestLcs)).toDouble / (2 * m)
  }

  // ---------------------------------------------------------------- internals

  /** LCS length via bit-parallel algorithm; pattern `b` must be <= 64 chars. */
  private def lcsBitParallel64(a: String, b: String): Int = {
    val masks = new MaskTable(b)
    var s = if (b.length == 64) -1L else (1L << b.length) - 1
    var j = 0
    while (j < a.length) {
      val u = s & masks.get(a.charAt(j))
      s = (s + u) | (s - u)
      j += 1
    }
    // LCS = number of zero bits in s within the pattern window.
    b.length - java.lang.Long.bitCount(s & (if (b.length == 64) -1L else (1L << b.length) - 1))
  }

  /** Row-DP LCS fallback for patterns longer than 64 chars (rare for
    * company names; O(n*m) with two int rows). */
  private def lcsDp(a: String, b: String): Int = {
    val prev = new Array[Int](b.length + 1)
    val cur = new Array[Int](b.length + 1)
    var i = 0
    while (i < a.length) {
      val ac = a.charAt(i)
      var j = 0
      while (j < b.length) {
        cur(j + 1) =
          if (ac == b.charAt(j)) prev(j) + 1
          else math.max(prev(j + 1), cur(j))
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, b.length + 1)
      i += 1
    }
    prev(b.length)
  }
}

/** Per-char match masks of a pattern of at most 64 chars, for the
  * bit-parallel LCS: bit i of `get(c)` is set iff `pattern.charAt(i) == c`.
  * Open addressing over two primitive arrays (linear probing, capacity a
  * power of two at least twice the pattern length), so building and
  * probing it boxes nothing. A slot is free while its mask is 0, since
  * every stored char has at least one bit set. */
private[graft] final class MaskTable(pattern: String) {
  private[this] val capacity = {
    var c = 16
    while (c < 2 * pattern.length) c <<= 1
    c
  }
  private[this] val keys = new Array[Char](capacity)
  private[this] val masks = new Array[Long](capacity)

  {
    var i = 0
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      val k = slot(c)
      keys(k) = c
      masks(k) |= 1L << i
      i += 1
    }
  }

  /** The slot holding `c`, or the free slot it would take. */
  private[this] def slot(c: Char): Int = {
    var k = c & (capacity - 1)
    while (masks(k) != 0L && keys(k) != c) k = (k + 1) & (capacity - 1)
    k
  }

  def get(c: Char): Long = masks(slot(c))
}
