package graft.text

import graft.operators.Materialized
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Corpus-trained bigram language model and per-document fluency scoring —
 * the KenLM-style "does this read like the corpus" quality filter used to
 * drop boilerplate/garbled documents before LLM training.
 *
 * Model: P(w₂|w₁) with add-α smoothing over the corpus's own bigram
 * counts; a document's score is its mean log-probability per bigram
 * (higher = more fluent w.r.t. the corpus; a perplexity filter thresholds
 * exp(−score)).
 *
 * Scale design: training is two hash aggregations over the exploded
 * bigram stream (pair counts, context counts) — the same inverted-index
 * shape as TF-IDF; scoring joins each document's bigrams back to the
 * count tables by key (hash joins, no driver-side model object). The
 * corpus vocabulary size is a 1-row aggregate cross-joined into the
 * plan. Per-bigram log-probs are rounded to 6 dp and summed as
 * DECIMAL(28,6) so the document score is independent of aggregation
 * order — bit-identical across partitionings and engines.
 */
object LanguageModel {

  /** Exploded (doc_id, w1, w2) bigram stream over whitespace tokens;
    * documents with fewer than 2 tokens contribute no rows. */
  def bigrams(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    docs.select(col(idCol).as("doc_id"), toks.as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(
        transform(sequence(lit(0), size(col("toks")) - 2),
          i => struct(element_at(col("toks"), i + 1).as("w1"),
            element_at(col("toks"), i + 2).as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
  }

  /**
   * Mean smoothed bigram log-probability per document:
   * score(d) = mean over d's bigrams of ln((c(w₁,w₂)+α)/(ctx(w₁)+α·V)).
   * Output: doc_id, n_bigrams, lm_score (4 dp).
   */
  def scoreDocs(docs: DataFrame, textCol: String, idCol: String,
      alpha: Double = 0.5): DataFrame = {
    // two consumers of the exploded bigram stream (pair counts + the
    // scoring join): materialize once. Context counts are DERIVED from
    // the vocab-sized pair-count relation (n(w1) = Σ_w2 c(w1,w2) —
    // identical values by construction), so the corpus-sized stream is
    // aggregated once and joined once, not three times.
    val bg = Materialized(bigrams(docs, textCol, idCol))
    val pairCnt = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val model = pairCnt.join(
      pairCnt.groupBy("w1").agg(sum(col("c")).as("n")), "w1")
    val vocab = docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .agg(count_distinct(col("tok")).as("vsz"))
    val logp = log((col("c") + alpha) / (col("n") + lit(alpha) * col("vsz")))
    bg.join(model, Seq("w1", "w2"))
      .crossJoin(vocab)
      .select(col("doc_id"),
        round(logp, 6).cast("decimal(28,6)").as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        // exact integer micro-units: engine round() on a double mean
        // differs between engines at .00005 boundaries, so the 4-dp
        // half-away-from-zero rounding is done in integer arithmetic
        (sum(col("lp")) * 1000000).cast("long").as("s_micro"))
      .select(col("doc_id"), col("n_bigrams"),
        (when(col("s_micro") >= 0,
          expr("(2 * s_micro + 100 * n_bigrams) DIV (200 * n_bigrams)"))
          .otherwise(-expr("(2 * -s_micro + 100 * n_bigrams) DIV (200 * n_bigrams)"))
          / 10000.0).as("lm_score"))
  }

  /**
   * Per-group self-trained add-α bigram scoring — ONE plan trains a
   * SEPARATE model for every group and scores each document against
   * ITS group's model: the CCNet per-language LM shape (Wenzek et al.
   * 2020 partition the crawl by language id and train/score one LM per
   * language). `docs` must carry `groupCol` (typically the PREDICTED
   * language from the trained softmax identifier). Model relations are
   * the [[scoreDocs]] aggregations with the group riding in every key
   * — (g, w1, w2) pair counts, (g, w1) contexts derived from them,
   * per-group distinct-token counts — so the plan shapes (two hash
   * aggs + key joins) and the engine-exact decimal rounding tail are
   * unchanged; only the shuffle keys widen by the group id. Documents
   * in a singleton group score against a model trained on themselves —
   * the honest degenerate case, same as running [[scoreDocs]] on that
   * slice alone (spec-asserted).
   * Output: doc_id, groupCol, n_bigrams, lm_score (4 dp).
   */
  def scoreDocsPerGroup(docs: DataFrame, textCol: String, idCol: String,
      groupCol: String, alpha: Double = 0.5): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val base = docs.select(col(idCol).as("doc_id"),
      col(groupCol).as("__g"), toks.as("toks"))
    // two consumers (pair counts + the scoring join): materialize once
    val bg = Materialized(base
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), col("__g"), explode(
        transform(sequence(lit(0), size(col("toks")) - 2),
          i => struct(element_at(col("toks"), i + 1).as("w1"),
            element_at(col("toks"), i + 2).as("w2")))).as("p"))
      .select(col("doc_id"), col("__g"), col("p.w1").as("w1"),
        col("p.w2").as("w2")))
    val pairCnt = bg.groupBy("__g", "w1", "w2").agg(count(lit(1)).as("c"))
    val model = pairCnt.join(
      pairCnt.groupBy("__g", "w1").agg(sum(col("c")).as("n")),
      Seq("__g", "w1"))
    val vocab = base
      .select(col("__g"), explode(col("toks")).as("tok"))
      .groupBy("__g").agg(count_distinct(col("tok")).as("vsz"))
    val logp = log((col("c") + alpha) / (col("n") + lit(alpha) * col("vsz")))
    bg.join(model, Seq("__g", "w1", "w2"))
      .join(vocab, Seq("__g"))
      .select(col("doc_id"), col("__g"),
        round(logp, 6).cast("decimal(28,6)").as("lp"))
      .groupBy("doc_id", "__g")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("lp")) * 1000000).cast("long").as("s_micro"))
      .select(col("doc_id"), col("__g").as(groupCol), col("n_bigrams"),
        (when(col("s_micro") >= 0,
          expr("(2 * s_micro + 100 * n_bigrams) DIV (200 * n_bigrams)"))
          .otherwise(-expr("(2 * -s_micro + 100 * n_bigrams) DIV (200 * n_bigrams)"))
          / 10000.0).as("lm_score"))
  }

  /**
   * Cross-corpus fluency scoring — the actual CCNet configuration:
   * the bigram model trains on a TARGET corpus (Wikipedia-like
   * reference) and scores a DIFFERENT corpus against it. Bigrams and
   * contexts absent from the target back off through the same add-α
   * smoothing (c→0, n→0: an unseen context scores ln(1/V)); the
   * model-side joins become left joins with zero-coalesced counts,
   * which for target ≡ scored degenerates to [[scoreDocs]] exactly
   * (every pair matches). Same decimal-summed engine-exact rounding.
   * Scale: model relations are aggregations of the (smaller) target;
   * both join corpus-side streams by key — no driver model object.
   */
  def scoreDocsAgainst(target: DataFrame, docs: DataFrame,
      textCol: String, idCol: String, alpha: Double = 0.5): DataFrame = {
    // context counts derive from the vocab-sized pair counts (identical
    // values), so the target bigram stream has ONE consumer — no
    // materialization, one aggregation pass
    val pairCnt = bigrams(target, textCol, idCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val vocab = target
      .select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .agg(count_distinct(col("tok")).as("vsz"))
    scoreDocsFromRelations(docs, textCol, idCol, pairCnt, vocab, alpha)
  }

  /**
   * The serving half of [[scoreDocsAgainst]] over PRECOMPUTED model
   * relations — `pairCnt` is the target's `(w1, w2, c)` bigram counts,
   * `vocab` its single-row `(vsz)` distinct-token count, both of which
   * round-trip parquet exactly (pure longs/strings). This is the
   * deploy-time shape: the model relations are persisted once and
   * every micro-batch scores against them
   * ([[graft.streaming.StreamingQualityStack]]); context counts derive
   * from the vocab-sized pair relation, never from the corpus.
   */
  def scoreDocsFromRelations(docs: DataFrame, textCol: String,
      idCol: String, pairCnt: DataFrame, vocab: DataFrame,
      alpha: Double = 0.5): DataFrame = {
    val ctxCnt = pairCnt.groupBy("w1").agg(sum(col("c")).as("n"))
    val bg = bigrams(docs, textCol, idCol)
    val logp = log((coalesce(col("c"), lit(0L)) + alpha) /
      (coalesce(col("n"), lit(0L)) + lit(alpha) * col("vsz")))
    bg.join(pairCnt, Seq("w1", "w2"), "left")
      .join(ctxCnt, Seq("w1"), "left")
      .crossJoin(vocab)
      .select(col("doc_id"),
        round(logp, 6).cast("decimal(28,6)").as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("lp")) * 1000000).cast("long").as("s_micro"))
      .select(col("doc_id"), col("n_bigrams"),
        (when(col("s_micro") >= 0,
          expr("(2 * s_micro + 100 * n_bigrams) DIV (200 * n_bigrams)"))
          .otherwise(-expr("(2 * -s_micro + 100 * n_bigrams) DIV (200 * n_bigrams)"))
          / 10000.0).as("lm_score"))
  }

  /** Exploded (doc_id, w1, w2, w3) trigram stream; documents with
    * fewer than 3 tokens contribute no rows. */
  def trigrams(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    docs.select(col(idCol).as("doc_id"), toks.as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(
        transform(sequence(lit(0), size(col("toks")) - 3),
          i => struct(element_at(col("toks"), i + 1).as("w1"),
            element_at(col("toks"), i + 2).as("w2"),
            element_at(col("toks"), i + 3).as("w3")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"),
        col("p.w2").as("w2"), col("p.w3").as("w3"))
  }

  /**
   * Interpolated Kneser–Ney TRIGRAM scoring (Chen & Goodman 1999) —
   * the CCNet-published filter's model family, upgraded from the add-α
   * bigram: per document the mean ln P_KN(w₃|w₁w₂) over its trigrams,
   * with the model trained on the scored corpus itself (the
   * [[scoreDocs]] convention — every scored trigram is in the model,
   * so the top-order context count is always positive).
   *
   *   P(w₃|w₁w₂) = (c(w₁w₂w₃)−D)⁺/c(w₁w₂)
   *                + D·N1+(w₁w₂•)/c(w₁w₂) · P(w₃|w₂)
   *   P(w₃|w₂)   = (N1+(•w₂w₃)−D)⁺/N1+(•w₂•)
   *                + D·N1+(w₂•)/N1+(•w₂•) · P(w₃)
   *   P(w₃)      = N1+(•w₃)/N1+(••)      (continuation unigram)
   *
   * where every N1+ is a TYPE count over the trigram relation — the KN
   * insight that a word seen after many distinct contexts deserves more
   * backoff mass than a frequent-but-context-bound one. All counts are
   * integer aggregates of the distinct-trigram table, so a DuckDB
   * oracle replays them exactly; the probability arithmetic follows the
   * engine's expression shapes term-for-term and lands in the same
   * 6-dp-round → DECIMAL sum → 4-dp integer micro-round discipline as
   * [[scoreDocs]] (order-independent, engine-exact).
   *
   * Scale: one explode + hash aggregations of the distinct-trigram
   * relation (vocab-sized, NOT corpus-sized); scoring joins the corpus
   * trigram stream to the count tables by key — no driver model. The
   * trigram stream has two consumers (model + scoring) and is
   * materialized once, as are the shared count relations.
   * Output: doc_id, n_trigrams, kn_score (4 dp).
   */
  def scoreDocsKN(docs: DataFrame, textCol: String, idCol: String,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0, "discount must be in (0,1)")
    val tg = Materialized(trigrams(docs, textCol, idCol))
    val t3 = Materialized(
      tg.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3")))
    // top order: context total and follower-type count per (w1,w2)
    val top = t3.groupBy("w1", "w2")
      .agg(sum(col("c3")).as("c2"), count(lit(1)).as("n3"))
    // middle order: N1+(•w2w3) = distinct w1 preceding (w2,w3)
    val mid = Materialized(
      t3.groupBy("w2", "w3").agg(count(lit(1)).as("n1mid")))
    val midCtx = mid.groupBy("w2")
      .agg(sum(col("n1mid")).as("nmidtot"), count(lit(1)).as("n2"))
    // lowest order: continuation counts over (w2,w3) types
    val low = mid.groupBy("w3").agg(count(lit(1)).as("n1low"))
    val lowTot = mid.agg(count(lit(1)).as("ntypes"))
    val d = lit(discount)
    val pLow = col("n1low").cast("double") / col("ntypes")
    val pMid = greatest(col("n1mid") - d, lit(0.0)) / col("nmidtot") +
      (d * col("n2") / col("nmidtot")) * pLow
    val pTop = greatest(col("c3") - d, lit(0.0)) / col("c2") +
      (d * col("n3") / col("c2")) * pMid
    tg.join(t3, Seq("w1", "w2", "w3"))
      .join(top, Seq("w1", "w2"))
      .join(mid, Seq("w2", "w3"))
      .join(midCtx, Seq("w2"))
      .join(low, Seq("w3"))
      .crossJoin(broadcast(lowTot))
      .select(col("doc_id"),
        round(log(pTop), 6).cast("decimal(28,6)").as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        (sum(col("lp")) * 1000000).cast("long").as("s_micro"))
      .select(col("doc_id"), col("n_trigrams"),
        (when(col("s_micro") >= 0,
          expr("(2 * s_micro + 100 * n_trigrams) DIV (200 * n_trigrams)"))
          .otherwise(-expr("(2 * -s_micro + 100 * n_trigrams) DIV (200 * n_trigrams)"))
          / 10000.0).as("kn_score"))
  }

  /** Count-of-counts n₁..n₄ of a count column — the Chen–Goodman
    * relation the modified-KN discounts derive from. One hash
    * aggregation; 1 row. */
  private def countOfCounts(counted: DataFrame, cntCol: String,
      prefix: String): DataFrame =
    counted.agg(
      sum(when(col(cntCol) === 1, 1L).otherwise(0L)).as(s"${prefix}1"),
      sum(when(col(cntCol) === 2, 1L).otherwise(0L)).as(s"${prefix}2"),
      sum(when(col(cntCol) === 3, 1L).otherwise(0L)).as(s"${prefix}3"),
      sum(when(col(cntCol) === 4, 1L).otherwise(0L)).as(s"${prefix}4"))

  /** The three modified-KN discounts from a count-of-counts row:
    * Y = n₁/(n₁+2n₂), D_k = k − (k+1)·Y·n_{k+1}/n_k, clamped at 0. A
    * discount whose count class is EMPTY (n_k = 0) falls back to the
    * fixed 0.75 — it never multiplies a nonzero follower count, so the
    * fallback only keeps the expression total. */
  private def modDiscounts(coc: DataFrame, prefix: String,
      outPrefix: String): DataFrame = {
    val (n1, n2, n3, n4) = (col(s"${prefix}1"), col(s"${prefix}2"),
      col(s"${prefix}3"), col(s"${prefix}4"))
    val y = when(n1 + lit(2L) * n2 > 0,
      n1.cast("double") / (n1 + lit(2L) * n2)).otherwise(lit(0.0))
    def dk(k: Int, nk: Column, nk1: Column): Column =
      when(nk > 0, greatest(lit(0.0),
        lit(k.toDouble) - lit(k + 1.0) * y * (nk1.cast("double") / nk)))
        .otherwise(lit(0.75))
    coc.select(dk(1, n1, n2).as(s"${outPrefix}1"),
      dk(2, n2, n3).as(s"${outPrefix}2"),
      dk(3, n3, n4).as(s"${outPrefix}3"))
  }

  /** The derived discount row of [[scoreDocsKNMod]] — (d1t, d2t, d3t)
    * for the trigram order and (d1m, d2m, d3m) for the continuation
    * middle order, exposed so the derivation itself is checkable. */
  def knModDiscounts(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val t3 = Materialized(trigrams(docs, textCol, idCol)
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3")))
    val mid = t3.groupBy("w2", "w3").agg(count(lit(1)).as("n1mid"))
    modDiscounts(countOfCounts(t3, "c3", "tn"), "tn", "dt")
      .select(col("dt1").as("d1t"), col("dt2").as("d2t"),
        col("dt3").as("d3t"))
      .crossJoin(
        modDiscounts(countOfCounts(mid, "n1mid", "mn"), "mn", "dm")
          .select(col("dm1").as("d1m"), col("dm2").as("d2m"),
            col("dm3").as("d3m")))
  }

  /**
   * MODIFIED Kneser–Ney trigram scoring (Chen & Goodman 1999 §3's
   * recommended variant): instead of one fixed discount, three
   * count-specific discounts D₁/D₂/D₃₊ per order, derived from the
   * order's count-of-counts relation — Y = n₁/(n₁+2n₂),
   * D_k = k − (k+1)·Y·n_{k+1}/n_k (clamped at 0; an empty count class
   * falls back to 0.75, where it multiplies nothing). A count-1 gram is
   * discounted by D₁, count-2 by D₂, count-≥3 by D₃₊; the backoff mass
   * becomes γ = (D₁N₁ + D₂N₂ + D₃₊N₃₊)/total over the context's
   * followers BY COUNT CLASS — on a singleton-heavy corpus D₁ rises
   * above the fixed 0.75, shifting probability from one-off noise to
   * the continuation distribution.
   *
   * Everything is one more integer aggregation (count-of-counts, 1 row
   * per order) on top of [[scoreDocsKN]]'s relations — same join
   * shapes, same 6-dp/decimal/4-dp-integer rounding tail, same exact
   * DuckDB replay. Output: doc_id, n_trigrams, kn_score (4 dp).
   */
  def scoreDocsKNMod(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val tg = Materialized(trigrams(docs, textCol, idCol))
    val t3 = Materialized(
      tg.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3")))
    // follower counts per context BY COUNT CLASS (N₁/N₂/N₃₊ of the γ)
    val top = t3.groupBy("w1", "w2")
      .agg(sum(col("c3")).as("c2"),
        sum(when(col("c3") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c3") === 2, 1L).otherwise(0L)).as("f2"),
        sum(when(col("c3") >= 3, 1L).otherwise(0L)).as("f3p"))
    val mid = Materialized(
      t3.groupBy("w2", "w3").agg(count(lit(1)).as("n1mid")))
    val midCtx = mid.groupBy("w2")
      .agg(sum(col("n1mid")).as("nmidtot"),
        sum(when(col("n1mid") === 1, 1L).otherwise(0L)).as("g1"),
        sum(when(col("n1mid") === 2, 1L).otherwise(0L)).as("g2"),
        sum(when(col("n1mid") >= 3, 1L).otherwise(0L)).as("g3p"))
    val low = mid.groupBy("w3").agg(count(lit(1)).as("n1low"))
    val lowTot = mid.agg(count(lit(1)).as("ntypes"))
    val discTop = modDiscounts(countOfCounts(t3, "c3", "tn"), "tn", "dt")
    val discMid = modDiscounts(countOfCounts(mid, "n1mid", "mn"), "mn", "dm")
    def dOf(c: Column, d1: Column, d2: Column, d3: Column): Column =
      when(c === 1, d1).when(c === 2, d2).otherwise(d3)
    val pLow = col("n1low").cast("double") / col("ntypes")
    val gammaMid = (col("dm1") * col("g1") + col("dm2") * col("g2") +
      col("dm3") * col("g3p")) / col("nmidtot")
    val pMid = greatest(col("n1mid") -
        dOf(col("n1mid"), col("dm1"), col("dm2"), col("dm3")), lit(0.0)) /
      col("nmidtot") + gammaMid * pLow
    val gammaTop = (col("dt1") * col("f1") + col("dt2") * col("f2") +
      col("dt3") * col("f3p")) / col("c2")
    val pTop = greatest(col("c3") -
        dOf(col("c3"), col("dt1"), col("dt2"), col("dt3")), lit(0.0)) /
      col("c2") + gammaTop * pMid
    tg.join(t3, Seq("w1", "w2", "w3"))
      .join(top, Seq("w1", "w2"))
      .join(mid, Seq("w2", "w3"))
      .join(midCtx, Seq("w2"))
      .join(low, Seq("w3"))
      .crossJoin(broadcast(lowTot))
      .crossJoin(broadcast(discTop))
      .crossJoin(broadcast(discMid))
      .select(col("doc_id"),
        round(log(pTop), 6).cast("decimal(28,6)").as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        (sum(col("lp")) * 1000000).cast("long").as("s_micro"))
      .select(col("doc_id"), col("n_trigrams"),
        (when(col("s_micro") >= 0,
          expr("(2 * s_micro + 100 * n_trigrams) DIV (200 * n_trigrams)"))
          .otherwise(-expr("(2 * -s_micro + 100 * n_trigrams) DIV (200 * n_trigrams)"))
          / 10000.0).as("kn_score"))
  }

  /** Exploded (doc_id, w1..w5) 5-gram stream; documents with fewer
    * than 5 tokens contribute no rows. */
  def fivegrams(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    docs.select(col(idCol).as("doc_id"), toks.as("toks"))
      .where(size(col("toks")) >= 5)
      .select(col("doc_id"), explode(
        transform(sequence(lit(0), size(col("toks")) - 5),
          i => struct((1 to 5).map(k =>
            element_at(col("toks"), i + k).as(s"w$k")): _*))).as("p"))
      .select(col("doc_id") +: (1 to 5).map(k =>
        col(s"p.w$k").as(s"w$k")): _*)
  }

  /** 60-bit md5 key over token columns — the engine's gram/context join
    * key. Hashing is the scale move: the five-level relation chain and
    * its joins shuffle ONE long per key instead of up-to-five-string
    * tuples (the string-keyed first cut OOM'd the soak's 100× leg at
    * ~25M gram rows; this one ladders). The 2⁶⁰ key space keeps
    * expected collisions ≪ 1 up to ~10⁹ distinct grams — and the
    * DuckDB oracle deliberately stays STRING-keyed, so any collision
    * that DID distort a count at verify scale would surface as a hash
    * mismatch rather than being replayed. */
  private def gramKey(cols: Column*): Column =
    conv(substring(md5(concat_ws("\u0001", cols: _*)), 1, 15), 16, 10)
      .cast("long")

  /** The hashed-key level relations of the 5-gram chain, shared by
    * [[scoreDocsKNMod5]] and [[kn5ModDiscounts]]: the keyed stream
    * `gsk` (the ONLY materialized frame — at 100× nearly every gram is
    * a distinct type, so caching the per-level relations too holds
    * ~5 corpus-sized frames at once and OOMs; everything below is left
    * lazy and Spark's exchange reuse dedups the identical aggregation
    * subplans among a level's consumers), the distinct-5-gram relation
    * `g5` (occurrence count c5) and the type-count relations m4/m3/m2.
    * The corpus stream is aggregated ONCE (to the all-keys distinct-
    * 5-gram relation `g5all` — every derived level/context key rides
    * along; each is a function of the 5-gram, so the groups are
    * unchanged) and every level relation derives from that vocab-sized
    * frame instead of re-aggregating the stream (round-15 optimization,
    * kept in r16) — N1+ at level k is `countDistinct` of the
    * level-(k+1) key over rows already distinct in the 5-gram,
    * value-identical to the former stream-side countDistinct (e.g.
    * m4's distinct-k5 count per (k4,c4k) is a plain `count` of
    * distinct-k5 rows). */
  private def kn5Relations(docs: DataFrame, textCol: String, idCol: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val w = (1 to 5).map(k => col(s"w$k"))
    val gsk = Materialized(fivegrams(docs, textCol, idCol).select(
      col("doc_id"),
      gramKey(w: _*).as("k5"),
      gramKey(w.take(4): _*).as("c5k"),
      gramKey(w.drop(1): _*).as("k4"),
      gramKey(w.slice(1, 4): _*).as("c4k"),
      gramKey(w.drop(2): _*).as("k3"),
      gramKey(w.slice(2, 4): _*).as("c3k"),
      gramKey(w.drop(3): _*).as("k2"),
      gramKey(w(3)).as("c2k"),
      gramKey(w(4)).as("k1")))
    val g5all = gsk.groupBy("k5", "c5k", "k4", "c4k", "k3", "c3k", "k2",
      "c2k", "k1").agg(count(lit(1)).as("c5"))
    val g5 = g5all.select("k5", "c5k", "c5")
    val m4 = g5all.groupBy("k4", "c4k").agg(count(lit(1)).as("k4c"))
    val m3 = g5all.groupBy("k3", "c3k")
      .agg(countDistinct(col("k4")).as("k3c"))
    val m2 = g5all.groupBy("k2", "c2k", "k1")
      .agg(countDistinct(col("k3")).as("k2c"))
    (gsk, g5, m4, m3, m2)
  }

  /** The four derived discount rows of [[scoreDocsKNMod5]] — one
    * (D₁,D₂,D₃₊) triple per order 5..2, exposed so the derivation is
    * checkable: columns d1_o5..d3_o5, d1_o4..d3_o4, d1_o3.., d1_o2... */
  def kn5ModDiscounts(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val (_, g5, m4, m3, m2) = kn5Relations(docs, textCol, idCol)
    def row(rel: DataFrame, cnt: String, o: Int): DataFrame =
      modDiscounts(countOfCounts(rel, cnt, s"n$o"), s"n$o", s"d")
        .select(col("d1").as(s"d1_o$o"), col("d2").as(s"d2_o$o"),
          col("d3").as(s"d3_o$o"))
    row(g5, "c5", 5).crossJoin(row(m4, "k4c", 4))
      .crossJoin(row(m3, "k3c", 3)).crossJoin(row(m2, "k2c", 2))
  }

  /**
   * MODIFIED Kneser–Ney at order FIVE — the published CCNet filter
   * configuration (Wenzek et al. 2020 train a 5-gram KenLM, whose
   * default smoothing is modified KN; [[scoreDocsKNMod]] is the same
   * estimator one order down). The structure is [[scoreDocsKNMod]]'s
   * recursion unrolled over orders 5→4→3→2→1: each level's relation is
   * the TYPE-count aggregation of the one above (the KN continuation
   * insight applied at every backoff), each of orders 5..2 carries its
   * own count-of-counts-derived (D₁,D₂,D₃₊) triple and a by-count-class
   * backoff mass γ, and the base case is the order-1 continuation
   * distribution:
   *
   *   P₅(w₅|w₁..w₄) = (c₅−D₅(c₅))⁺/c₄ + γ₅·P₄
   *   P₄(w₅|w₂..w₄) = (N1+(•w₂..w₅)−D₄)⁺/N1+(•w₂..w₄•) + γ₄·P₃   …
   *   P₁(w₅)        = N1+(•w₅)/N1+(••)
   *
   * All counts are integer aggregates of the distinct-5-gram relation
   * (vocab-sized, not corpus-sized); scoring joins the corpus 5-gram
   * stream to the level relations by key — no driver model; the same
   * 6-dp-round → DECIMAL sum → 4-dp integer micro-round tail as every
   * LM scorer, so the DuckDB oracle replays it exactly. Documents with
   * fewer than 5 tokens contribute no rows (the order's support
   * convention, same as [[scoreDocsKN]] at 3).
   * Output: doc_id, n_5grams, kn_score (4 dp).
   */
  def scoreDocsKNMod5(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val (gsk, g5, m4, m3, m2) = kn5Relations(docs, textCol, idCol)
    def classes(cnt: String, p: String) = Seq(
      sum(when(col(cnt) === 1, 1L).otherwise(0L)).as(s"${p}1"),
      sum(when(col(cnt) === 2, 1L).otherwise(0L)).as(s"${p}2"),
      sum(when(col(cnt) >= 3, 1L).otherwise(0L)).as(s"${p}3p"))
    val ctx5 = g5.groupBy("c5k")
      .agg(sum(col("c5")).as("tot5"), classes("c5", "a"): _*)
    val ctx4 = m4.groupBy("c4k")
      .agg(sum(col("k4c")).as("tot4"), classes("k4c", "b"): _*)
    val ctx3 = m3.groupBy("c3k")
      .agg(sum(col("k3c")).as("tot3"), classes("k3c", "e"): _*)
    val ctx2 = m2.groupBy("c2k")
      .agg(sum(col("k2c")).as("tot2"), classes("k2c", "g"): _*)
    val m1 = m2.groupBy("k1").agg(count(lit(1)).as("k1c"))
    val tot1 = m2.agg(count(lit(1)).as("ntypes"))
    def disc(rel: DataFrame, cnt: String, p: String): DataFrame =
      modDiscounts(countOfCounts(rel, cnt, s"cc$p"), s"cc$p", p)
    val (d5, d4, d3, d2) = (disc(g5, "c5", "u"), disc(m4, "k4c", "v"),
      disc(m3, "k3c", "x"), disc(m2, "k2c", "z"))
    def dOf(c: Column, p: String): Column =
      when(c === 1, col(s"${p}1")).when(c === 2, col(s"${p}2"))
        .otherwise(col(s"${p}3"))
    def gamma(p: String, cls: String, tot: String): Column =
      (col(s"${p}1") * col(s"${cls}1") + col(s"${p}2") * col(s"${cls}2") +
        col(s"${p}3") * col(s"${cls}3p")) / col(tot)
    val p1 = col("k1c").cast("double") / col("ntypes")
    val p2 = greatest(col("k2c") - dOf(col("k2c"), "z"), lit(0.0)) /
      col("tot2") + gamma("z", "g", "tot2") * p1
    val p3 = greatest(col("k3c") - dOf(col("k3c"), "x"), lit(0.0)) /
      col("tot3") + gamma("x", "e", "tot3") * p2
    val p4 = greatest(col("k4c") - dOf(col("k4c"), "v"), lit(0.0)) /
      col("tot4") + gamma("v", "b", "tot4") * p3
    val p5 = greatest(col("c5") - dOf(col("c5"), "u"), lit(0.0)) /
      col("tot5") + gamma("u", "a", "tot5") * p4
    // Round-16 A/B DECISION (reverting half of the round-15
    // restructure): r15 assembled the log-probability on the
    // vocab-sized distinct-5-gram relation and joined the stream once
    // on k5 — a scale claim that measured WORSE where it runs: on the
    // near-distinct post-dedup corpus (the benched regime, and the
    // realistic one — KN follows dedup) vocab ≈ stream, so the model
    // assembly paid the nine joins on stream-sized data anyway PLUS
    // the extra stream→model join (A/B at sf0.1, noop sink, med of 3:
    // r15 shape 19.4 s vs this shape 9.4 s plain; 13.9 s vs 15.1 s on
    // a 5×-duplicated corpus — the r15 win only appears under heavy
    // duplication and stays ~10%). The stream therefore rejoins the
    // level relations directly (the r14 assembly); the
    // aggregate-the-stream-once relation derivation above is KEPT —
    // it is what helps when duplication exists, at no cost without.
    // All relation sides are merge-hinted (sort-merge join): they are
    // vocab-sized — up to corpus-sized at high dup-free scale — and
    // the static planner's post-aggregation size guesses otherwise
    // elect driver broadcasts that cannot build at 100× (observed:
    // broadcast OOM on the soak's 500k-doc leg), while shuffle_hash's
    // per-task hash builds cannot acquire execution memory with 32
    // concurrent tasks × 9 joins (also observed). SMJ sorts and
    // SPILLS — the only join that degrades gracefully here; the 1-row
    // totals/discount frames stay explicit broadcasts
    def sh(df: DataFrame): DataFrame = df.hint("merge")
    gsk.join(sh(g5.select("k5", "c5")), Seq("k5"))
      .join(sh(ctx5), Seq("c5k"))
      .join(sh(m4.select("k4", "k4c")), Seq("k4"))
      .join(sh(ctx4), Seq("c4k"))
      .join(sh(m3.select("k3", "k3c")), Seq("k3"))
      .join(sh(ctx3), Seq("c3k"))
      .join(sh(m2.select("k2", "k2c")), Seq("k2"))
      .join(sh(ctx2), Seq("c2k"))
      .join(sh(m1), Seq("k1"))
      .crossJoin(broadcast(tot1))
      .crossJoin(broadcast(d5)).crossJoin(broadcast(d4))
      .crossJoin(broadcast(d3)).crossJoin(broadcast(d2))
      .select(col("doc_id"),
        round(log(p5), 6).cast("decimal(28,6)").as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_5grams"),
        (sum(col("lp")) * 1000000).cast("long").as("s_micro"))
      .select(col("doc_id"), col("n_5grams"),
        (when(col("s_micro") >= 0,
          expr("(2 * s_micro + 100 * n_5grams) DIV (200 * n_5grams)"))
          .otherwise(-expr("(2 * -s_micro + 100 * n_5grams) DIV (200 * n_5grams)"))
          / 10000.0).as("kn_score"))
  }

  /**
   * CCNet-style perplexity bucketing (Wenzek et al. 2020 §3.3): label
   * every document `head` / `middle` / `tail` by its corpus-relative
   * fluency — the standard triage that keeps the head, samples the
   * middle and drops the tail before LLM training. Buckets are cut at
   * corpus quantiles of the [[scoreDocs]] score (higher score = lower
   * perplexity = head), with targets given in permille of the corpus
   * (default 300/400/300).
   *
   * Quantiles are computed EXACTLY but without a corpus-wide sort: the
   * score is already 4-dp-grained (an exact micro-unit integer), so the
   * distribution is a hash-aggregated histogram over at most
   * (score range × 10⁴) distinct cells — bounded by the LM's log-prob
   * range, NOT by corpus size (a [-20, 0] score range is ≤ 200k cells
   * at any corpus scale). The only window runs over that bounded
   * histogram; thresholds reduce to one broadcast row. A document whose
   * score ties a threshold cell goes to the better bucket (quantile_disc
   * semantics — the head target is met with minimal tie-inclusive
   * overshoot), so bucket sizes can exceed their targets only by ties.
   *
   * All threshold arithmetic is integer (targets `⌈n·permille/1000⌉`
   * via `DIV`), so a DuckDB oracle replays the labels bit-for-bit.
   * Output: doc_id, n_bigrams, lm_score, bucket.
   */
  def perplexityBuckets(docs: DataFrame, textCol: String, idCol: String,
      alpha: Double = 0.5, headPermille: Int = 300,
      midPermille: Int = 400): DataFrame =
    bucketsByScore(scoreDocs(docs, textCol, idCol, alpha), "lm_score",
      headPermille, midPermille)

  /**
   * Cross-corpus Kneser–Ney scoring — the actual CCNet configuration
   * at the KN order: the trigram model trains on a TARGET corpus and
   * scores a DIFFERENT corpus against it, with standard backoff down
   * the interpolation chain for unseen keys:
   *
   *  - trigram context (w₁,w₂) unseen in the target → score with the
   *    middle order alone;
   *  - middle context w₂ unseen → score with the continuation unigram;
   *  - w₃ itself never a continuation in the target → a 0.5
   *    pseudo-count floor over the target's continuation-type total
   *    (the ⟨unk⟩ move at the lowest order — without it an unseen word
   *    has probability 0 and ln diverges).
   *
   * On every SEEN path the arithmetic is expression-identical to
   * [[scoreDocsKN]], so target ≡ scored degenerates to it EXACTLY
   * (spec-asserted). Model relations aggregate the (smaller) target;
   * scoring left-joins the corpus trigram stream by key — no driver
   * model. Same engine-exact rounding tail. The target must contain at
   * least one trigram (the continuation-type total is a divisor).
   * Output: doc_id, n_trigrams, kn_score (4 dp).
   */
  def scoreDocsKNAgainst(target: DataFrame, docs: DataFrame,
      textCol: String, idCol: String, discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0, "discount must be in (0,1)")
    val t3 = Materialized(trigrams(target, textCol, idCol)
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3")))
    val top = t3.groupBy("w1", "w2")
      .agg(sum(col("c3")).as("c2"), count(lit(1)).as("n3"))
    val mid = Materialized(
      t3.groupBy("w2", "w3").agg(count(lit(1)).as("n1mid")))
    val midCtx = mid.groupBy("w2")
      .agg(sum(col("n1mid")).as("nmidtot"), count(lit(1)).as("n2"))
    val low = mid.groupBy("w3").agg(count(lit(1)).as("n1low"))
    val lowTot = mid.agg(count(lit(1)).as("ntypes"))
    val d = lit(discount)
    val pLow = coalesce(col("n1low").cast("double"), lit(0.5)) / col("ntypes")
    val pMid = when(col("nmidtot").isNull, pLow).otherwise(
      greatest(coalesce(col("n1mid"), lit(0L)) - d, lit(0.0)) / col("nmidtot") +
        (d * col("n2") / col("nmidtot")) * pLow)
    val pTop = when(col("c2").isNull, pMid).otherwise(
      greatest(coalesce(col("c3"), lit(0L)) - d, lit(0.0)) / col("c2") +
        (d * col("n3") / col("c2")) * pMid)
    trigrams(docs, textCol, idCol)
      .join(t3, Seq("w1", "w2", "w3"), "left")
      .join(top, Seq("w1", "w2"), "left")
      .join(mid, Seq("w2", "w3"), "left")
      .join(midCtx, Seq("w2"), "left")
      .join(low, Seq("w3"), "left")
      .crossJoin(broadcast(lowTot))
      .select(col("doc_id"),
        round(log(pTop), 6).cast("decimal(28,6)").as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        (sum(col("lp")) * 1000000).cast("long").as("s_micro"))
      .select(col("doc_id"), col("n_trigrams"),
        (when(col("s_micro") >= 0,
          expr("(2 * s_micro + 100 * n_trigrams) DIV (200 * n_trigrams)"))
          .otherwise(-expr("(2 * -s_micro + 100 * n_trigrams) DIV (200 * n_trigrams)"))
          / 10000.0).as("kn_score"))
  }

  /**
   * The bucketing half of [[perplexityBuckets]] over ANY 4-dp-grained
   * fluency score — pass [[scoreDocsKN]] output with `kn_score` to
   * rebase the CCNet triage on the Kneser–Ney trigram instead of the
   * add-α bigram. Same exact-quantile machinery: bounded micro-unit
   * histogram, one window over it, tie-inclusive integer thresholds.
   */
  def bucketsByScore(scored0: DataFrame, scoreCol: String,
      headPermille: Int = 300, midPermille: Int = 400): DataFrame = {
    // two consumers (histogram + final labels): one computation
    val scored = Materialized(scored0)
    bucketByThresholds(scored, scoreCol,
      scoreThresholds(scored, scoreCol, headPermille, midPermille))
  }

  /**
   * The threshold half of [[bucketsByScore]]: the two tie-inclusive
   * integer micro-unit cut points as a SINGLE-ROW relation
   * `(thr_head, thr_mid)` — a persistable serving artifact (pure
   * longs, exact parquet round-trip). Derive once on the reference
   * corpus, then label any other frame with [[bucketByThresholds]];
   * composing the two over the SAME scored frame is exactly
   * [[bucketsByScore]].
   */
  def scoreThresholds(scored0: DataFrame, scoreCol: String,
      headPermille: Int = 300, midPermille: Int = 400): DataFrame = {
    require(headPermille > 0 && midPermille >= 0 &&
      headPermille + midPermille <= 1000,
      "head/mid permille must be positive and sum to at most 1000")
    graft.operators.Sampling.histogramCuts(microUnits(scored0, scoreCol), Nil,
      "thr_head" -> headPermille, "thr_mid" -> (headPermille + midPermille))
  }

  /**
   * Per-group exact-quantile bucketing — [[bucketsByScore]] with the
   * thresholds derived WITHIN each group: the CCNet head/middle/tail
   * cut applied per language, so a low-resource language's triage is
   * not dominated by the high-resource languages' score distribution.
   * Same machinery (micro-unit histogram, tie-inclusive integer
   * targets), with the histogram keyed by (group, cell), the
   * cumulative window PARTITIONED by group (parallel across groups,
   * each over a bounded score-range histogram — never over documents),
   * and the per-group 2-long threshold relation broadcast back.
   */
  def bucketsByScorePerGroup(scored0: DataFrame, scoreCol: String,
      groupCol: String, headPermille: Int = 300,
      midPermille: Int = 400): DataFrame = {
    require(headPermille > 0 && midPermille >= 0 &&
      headPermille + midPermille <= 1000,
      "head/mid permille must be positive and sum to at most 1000")
    val grained = microUnits(Materialized(scored0), scoreCol)
    labelled(grained.join(broadcast(graft.operators.Sampling.histogramCuts(
      grained, Seq(groupCol), "thr_head" -> headPermille,
      "thr_mid" -> (headPermille + midPermille))), Seq(groupCol)))
  }

  /** Label a scored frame against FIXED thresholds (a single-row
    * `(thr_head, thr_mid)` relation from [[scoreThresholds]], possibly
    * read back from parquet) — the labeling half of [[bucketsByScore]]
    * and the per-batch serving shape: one broadcast of the 1-row
    * threshold relation, map-side labels, no corpus-wide window. */
  def bucketByThresholds(scored0: DataFrame, scoreCol: String,
      thr: DataFrame): DataFrame =
    labelled(microUnits(scored0, scoreCol).crossJoin(broadcast(thr)))

  /** Exact micro-unit recovery: the score IS m/10⁴ for integer m, so
    * round(·×10⁴) is ≥ ½-ulp from any .5 boundary — identical in both
    * engines. Adds `__m`. */
  private def microUnits(scored: DataFrame, scoreCol: String): DataFrame =
    scored.withColumn("__m", round(col(scoreCol) * 10000).cast("long"))

  /** The head/middle/tail label of a micro-unit score against the
    * `thr_head`/`thr_mid` columns beside it, dropping all three. */
  private def labelled(df: DataFrame): DataFrame =
    df.withColumn("bucket",
        when(col("__m") >= col("thr_head"), lit("head"))
          .when(col("__m") >= col("thr_mid"), lit("middle"))
          .otherwise(lit("tail")))
      .drop("__m", "thr_head", "thr_mid")
}
