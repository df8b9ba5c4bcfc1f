package graft.dedup

import graft.text.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Substring-level exact dedup — the finer-grained sibling of the
 * document-level families in [[TextDedup]]: two documents are
 * substring-duplicates when they share at least one exact run of
 * `windowTokens` consecutive tokens (Lee et al. 2021, "Deduplicating
 * Training Data Makes Language Models Better", which dedups exact
 * 50-token substrings via a suffix array). Catches boilerplate reuse,
 * quotation and template overlap that whole-document hashing misses and
 * shingle-Jaccard only sees once overlap dominates the documents.
 *
 * Distributed formulation (a suffix array is a single-machine
 * construction): every length-w token window is emitted once per
 * position, keyed by the engine's shared md5-prefix hash
 * ([[TextDedup.strHash]]), and candidate pairs meet through the same
 * inverted-index + document-frequency-cap shape as
 * [[TextDedup.ngramJaccardPairs]] — a window occurring in more than
 * `maxPostings` documents is boilerplate (cookie banners, licence
 * headers) and is dropped from PAIRING (the df cap bounds the self-join
 * fan-out at corpus scale; at 100 TB the hot keys are exactly these).
 * Hash matches are verified against the window STRINGS before any pair
 * is reported, so output is exact, not probabilistic.
 *
 * Output: one row per (doc_a < doc_b) pair with the number of distinct
 * shared windows and the earliest shared position in doc_a — the span
 * evidence an excision pass (cut the duplicated run, keep the rest)
 * needs.
 */
object SubstringDedup {

  /**
   * Pairs of documents sharing ≥ 1 exact `windowTokens`-token run.
   * `stride` > 1 subsamples EMITTED positions on both sides (linear cost
   * reduction, trades recall: a shared run is found only if it covers
   * aligned windows on both documents — keep 1 for exactness, raise it
   * for triage at scale).
   */
  /** Every `w`-token window of each document with its position and
    * md5-prefix hash. Windows come out of one codegen'd kernel pass per
    * document (token_windows); the hash is then a regular codegen'd
    * projection over the EXPLODED rows — building strings and hashing
    * inside array lambdas paid interpreted per-element cost instead. */
  private def wins(d: DataFrame, windowTokens: Int, stride: Int,
      withWin: Boolean): DataFrame = {
    val w = d.select(col("doc_id"), posexplode(
      graft.functions.GraftFunctions.token_windows(col("text"),
        windowTokens, stride)).as(Seq("i", "win")))
      .select(col("doc_id"), (col("i").cast("long") * stride).as("pos"),
        col("win"))
      .withColumn("h", TextDedup.strHash(col("win")))
    if (withWin) w else w.drop("win")
  }

  def windowPairs(docs: DataFrame, textCol: String, idCol: String,
      windowTokens: Int = 20, stride: Int = 1,
      maxPostings: Long = 1000): DataFrame = {
    require(windowTokens >= 2 && stride >= 1)
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    def wins(d: DataFrame, withWin: Boolean): DataFrame =
      SubstringDedup.wins(d, windowTokens, stride, withWin)

    // Candidates-first (the LSH-family shape): pairing runs entirely on
    // HASH-ONLY postings — 8-byte keys, no string payload through the
    // corpus-wide shuffles. Postings are first capped to ONE row per
    // (doc, h) — the min position — because a single shared hash already
    // establishes the candidate pair; without this cap two spammy
    // documents each repeating the same window k times put O(k²) rows
    // through the self-join for ONE hash, a fan-out the document-
    // frequency cap (which counts docs, not positions) never bounds.
    // The full window strings are re-derived (one more kernel pass) only
    // for documents that appear in a candidate pair, which on a
    // near-dup-sparse corpus is output-proportional, and the exact
    // string verify runs on that bounded set — also at distinct-window
    // grain, so the per-pair verify is |distinct shared windows|, not
    // |position combinations|. The explosion itself is deliberately
    // recomputed, not Materialized: it is token-grain, and checkpointing
    // it at corpus scale costs more than the map-only kernel pass it
    // saves.
    val postings = wins(base, withWin = false)
      .groupBy("doc_id", "h").agg(min(col("pos")).as("pos"))
    // df cap on the HASH key (the join key): windows in > maxPostings
    // docs never pair. Distinct docs, not positions — a window repeated
    // WITHIN one template document must not evict it from pairing (and
    // after the per-(doc, h) cap, plain count IS the distinct-doc df).
    val keep = postings.groupBy("h")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxPostings)
      .select("h")
    val kept = postings.join(keep, "h")
    val cand = kept.select(col("h"), col("doc_id").as("doc_a"))
      .join(kept.select(col("h"), col("doc_id").as("doc_b")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))

    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    // Distinct windows per candidate doc (min position each), restricted
    // to df-kept hashes — capped hashes must not resurface in the
    // shared-window counts. Any doc pair this verify joins together
    // shares a kept hash, so it is necessarily a candidate pair already;
    // no join back to `cand` is needed.
    val candWins = wins(base.join(candDocs, Seq("doc_id"), "leftsemi"),
      withWin = true)
      .join(keep, Seq("h"), "leftsemi")
      .groupBy("doc_id", "h", "win").agg(min(col("pos")).as("pos"))
    val wa = candWins.select(col("doc_id").as("doc_a"),
      col("pos").as("pos_a"), col("h"), col("win").as("win_a"))
    val wb = candWins.select(col("doc_id").as("doc_b"), col("h"),
      col("win").as("win_b"))
    wa.join(wb, Seq("h"))
      .filter(col("doc_a") < col("doc_b") && col("win_a") === col("win_b"))
      .groupBy("doc_a", "doc_b")
      .agg(countDistinct(col("win_a")).as("n_shared_windows"),
        min(col("pos_a")).as("first_pos_a"))
  }

  /**
   * The excision pass Lee et al.'s operator actually performs: REMOVE
   * each duplicated run and keep the rest of the document. A token of
   * document d is excised when it is covered by a `windowTokens`-run
   * that also occurs verbatim in a LOWER-id document (keep-first: the
   * earliest document owns the run and keeps it; later copies lose it).
   * Overlapping shared runs union naturally at token grain; a document
   * that is entirely duplicated excises to the empty string but keeps
   * its row.
   *
   * Output: one row per input document — (doc_id, n_tokens_removed,
   * text_excised) with the text rebuilt from the surviving tokens in
   * order (token-normalized: lowercased, single-spaced — the same
   * normalization the window index is built on, so the cut is exact
   * token arithmetic a DuckDB oracle can replay).
   *
   * Scale shape: the same candidates-first skeleton as [[windowPairs]]
   * — corpus-wide work is hash-only postings; window strings, ownership
   * (min doc per distinct window) and the token rebuild run only over
   * documents that appear in a candidate pair. Boilerplate windows past
   * the df cap never excise (consistent with pairing: a cookie banner
   * in 100k documents is a stop-window, not a duplicated run).
   */
  def excise(docs: DataFrame, textCol: String, idCol: String,
      windowTokens: Int = 20, maxPostings: Long = 1000): DataFrame = {
    require(windowTokens >= 2)
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val postings = wins(base, windowTokens, 1, withWin = false)
      .groupBy("doc_id", "h").agg(min(col("pos")).as("pos"))
    val keep = postings.groupBy("h")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxPostings)
      .select("h")
    val kept = postings.join(keep, "h")
    val cand = kept.select(col("h"), col("doc_id").as("doc_a"))
      .join(kept.select(col("h"), col("doc_id").as("doc_b")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()

    // Full window occurrences of candidate docs (kept hashes only);
    // ownership = min doc id per distinct window STRING, so the
    // lower-than test is one broadcast-able join per occurrence, not a
    // pairwise explosion. Every doc sharing a window with another doc is
    // a candidate, so the min over candidate docs IS the corpus min.
    val candBase = graft.operators.Materialized(
      base.join(candDocs, Seq("doc_id"), "leftsemi"))
    val candWins = wins(candBase, windowTokens, 1, withWin = true)
      .join(keep, Seq("h"), "leftsemi")
    val owners = candWins.groupBy("h", "win")
      .agg(min(col("doc_id")).as("min_doc"))
    val covered = candWins.join(owners, Seq("h", "win"))
      .filter(col("min_doc") < col("doc_id"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + windowTokens - 1))
          .as("ti"))
      .distinct()

    // Rebuild candidate docs from surviving tokens (position order);
    // untouched docs pass through as one map-side token join.
    val tokPos = candBase.select(col("doc_id"), posexplode(
        graft.functions.GraftFunctions.token_windows(col("text"), 1, 1))
        .as(Seq("i", "tok")))
      .select(col("doc_id"), col("i").cast("long").as("ti"), col("tok"))
    val keptTok = tokPos.join(covered, Seq("doc_id", "ti"), "left_anti")
    val rebuilt = keptTok
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ti"), col("tok")))),
        e => e("tok")), " ").as("text_excised"))
    val removed = covered.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens_removed"))
    val candOut = candBase.select("doc_id")
      .join(rebuilt, Seq("doc_id"), "left")
      .join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens_removed"), lit(0L)).as("n_tokens_removed"),
        coalesce(col("text_excised"), lit("")).as("text_excised"))
    val untouched = base.join(candDocs, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(0L).as("n_tokens_removed"),
        array_join(TextAnalysis.tokens(col("text")), " ").as("text_excised"))
    candOut.unionByName(untouched)
  }
}
