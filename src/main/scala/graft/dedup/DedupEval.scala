package graft.dedup

import graft.operators.Materialized
import graft.text.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Dedup EVALUATION mart: a deterministic planted-ground-truth corpus and
 * per-family precision/recall reports — the surface a curation team reads
 * to pick a family and threshold BEFORE running dedup over 100 TB
 * (round-12 verdict ask #6; the practice every dedup paper reports as
 * "precision/recall on a corpus with known duplicates", e.g. Lee et al.
 * 2022 §4, SlimPajama's dedup ablations).
 *
 * Ground truth is PLANTED, not annotated: each distinct-text document
 * spawns deterministic variants with known provenance —
 *
 *   v0  the original                                  (every origin)
 *   v1  last token dropped (≈0.97 shingle Jaccard)    (every origin, ≥2 tokens)
 *   v2  truncated to the first ⌊0.8·n⌋ tokens
 *       (≈0.75 Jaccard — straddles the 0.8/0.6 cut)   (even origins)
 *   v3  byte-identical copy                           (origins % 3 = 0)
 *
 * Two planted rows are true duplicates iff they share an origin. A
 * detected pair of DIFFERENT origins counts false-positive even when the
 * corpus genuinely contains that similarity — the mart measures
 * against PLANTED truth (documented; original texts are deduplicated to
 * one per distinct text first, so the corpus's own exact copies never
 * pollute the truth set).
 *
 * Scale shape: the planted corpus is ≤ 4 rows per distinct text (one
 * projection + one hash agg); truth pairs are ≤ 6 per origin (generated
 * by an origin-key equi-join, never a corpus cross join); every detector
 * is the production operator itself (df-capped inverted index, banded
 * LSH, chunked Hamming) run unchanged on the planted corpus; the final
 * report is one broadcast-size aggregation per family.
 */
object DedupEval {

  /** The evaluated (family, detector) configurations, in report order. */
  val Families: Seq[String] = Seq("exact", "minhash_lsh_0.8",
    "ngram_jaccard_0.6", "ngram_jaccard_0.8", "simhash_1")

  /** Deterministic planted near-dup corpus: (doc_id, origin, text) with
    * doc_id = origin·4 + variant. Originals are deduplicated to one per
    * distinct text (min doc_id keeps the grouping deterministic; at
    * petabyte scale group on the md5 digest instead of the raw text —
    * [[TextDedup.exactGroups]] — and join the keeper's text back). */
  def plantedCorpus(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val base = Materialized(docs
      .groupBy(col(textCol).as("text"))
      .agg(min(col(idCol)).as("origin")))
    val toks = TextAnalysis.tokens(col("text"))
    val n = size(toks)
    // ⌊0.8·n⌋ in INTEGER arithmetic (n·8 − (n·8 mod 10)) / 10 — the
    // oracle's `//`; the division is exact (numerator a multiple of 10)
    val k = ((n * 8 - pmod(n * 8, lit(10))) / 10).cast("int")
    val v0 = base.select((col("origin") * 4).as("doc_id"),
      col("origin"), col("text"))
    val v1 = base.filter(n >= 2)
      .select((col("origin") * 4 + 1).as("doc_id"), col("origin"),
        array_join(slice(toks, lit(1), n - 1), " ").as("text"))
    val v2 = base.filter(col("origin") % 2 === 0 && k >= 1 && k < n)
      .select((col("origin") * 4 + 2).as("doc_id"), col("origin"),
        array_join(slice(toks, lit(1), k), " ").as("text"))
    val v3 = base.filter(col("origin") % 3 === 0)
      .select((col("origin") * 4 + 3).as("doc_id"), col("origin"),
        col("text"))
    v0.unionByName(v1).unionByName(v2).unionByName(v3)
  }

  /** Ground-truth duplicate pairs: same origin, doc_a < doc_b. */
  def truthPairs(planted: DataFrame): DataFrame =
    planted.select(col("doc_id").as("doc_a"), col("origin"))
      .join(planted.select(col("doc_id").as("doc_b"), col("origin")),
        "origin")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")

  /** Every family's detected pairs on the planted corpus, tagged:
    * (family, doc_a, doc_b). Detectors are the production operators at
    * their production defaults (ngram additionally at 0.6 — the
    * threshold-selection comparison row). */
  def detectedPairs(planted: DataFrame): DataFrame = {
    val p = Materialized(planted.select("doc_id", "text"))
    val withH = p.select(col("doc_id"), md5(col("text")).as("__h"))
    val exact = withH.as("a")
      .join(withH.as("b"), col("a.__h") === col("b.__h") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    // THREE of the five families consume the same 3-gram hashed-shingle
    // relation (MinHash-LSH signatures, both n-gram Jaccard thresholds)
    // — computed and materialized ONCE here instead of once per family
    // (round-16 optimization; each family's pair values are unchanged:
    // minhashLshPairsFromShingles/setJaccardPairs are exactly the
    // subplans ngramJaccardPairs/minhashLshPairs build internally, and
    // the shared df-capped index aggregation below the two Jaccard
    // thresholds dedups via exchange reuse inside the one union plan).
    val withHs = Materialized(p.select(col("doc_id"),
      graft.functions.GraftFunctions.hashed_shingles(col("text"), 3)
        .as("hs")))
    val fams: Seq[(String, DataFrame)] = Seq(
      "exact" -> exact,
      "minhash_lsh_0.8" ->
        TextDedup.minhashLshPairsFromShingles(withHs, threshold = 0.8),
      "ngram_jaccard_0.6" ->
        TextDedup.setJaccardPairs(withHs, threshold = 0.6),
      "ngram_jaccard_0.8" ->
        TextDedup.setJaccardPairs(withHs, threshold = 0.8),
      "simhash_1" ->
        TextDedup.simhashPairsWide(p, "text", "doc_id", maxDist = 1))
    fams.map { case (name, df) =>
      df.select(lit(name).as("family"), col("doc_a"), col("doc_b"))
    }.reduce(_ unionByName _)
  }

  /** The evaluation mart: one row per family with truth/detected/tp/fp/
    * fn counts and 4-dp precision (null when nothing was detected) and
    * recall (null when the truth set is empty). */
  def evalReport(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val planted = Materialized(plantedCorpus(docs, textCol, idCol))
    evalReportFrom(planted, detectedPairs(planted))
  }

  /** [[evalReport]] over PREBUILT planted/detected frames — pass shared
    * (cached) frames when the report and the overlap mart run in the
    * same session (round-16 optimization: the five detector families
    * ran once per consuming query before). Value-identical. */
  def evalReportFrom(planted: DataFrame, det: DataFrame): DataFrame = {
    val spark = planted.sparkSession
    import spark.implicits._
    val truth = Materialized(truthPairs(planted))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val ag = det
      .join(truth.withColumn("__t", lit(1L)), Seq("doc_a", "doc_b"), "left")
      .groupBy("family")
      .agg(count(lit(1)).as("n_pred_0"),
        sum(coalesce(col("__t"), lit(0L))).as("tp_0"))
    // the family list is a LocalRelation so a detector with ZERO pairs
    // still gets its report row (recall 0), never a silently absent one
    Families.toDF("family")
      .join(ag, Seq("family"), "left")
      .crossJoin(broadcast(nTruth))
      .select(col("family"), col("n_truth"),
        coalesce(col("n_pred_0"), lit(0L)).as("n_pred"),
        coalesce(col("tp_0"), lit(0L)).as("tp"))
      .select(col("family"), col("n_truth"), col("n_pred"), col("tp"),
        (col("n_pred") - col("tp")).as("fp"),
        (col("n_truth") - col("tp")).as("fn"),
        when(col("n_pred") === 0, lit(null).cast("double"))
          .otherwise(round(col("tp").cast("double") / col("n_pred"), 4))
          .as("precision"),
        when(col("n_truth") === 0, lit(null).cast("double"))
          .otherwise(round(col("tp").cast("double") / col("n_truth"), 4))
          .as("recall"))
  }

  /** Pairwise between-family overlap of detected pair sets —
    * (family_a < family_b, n_common): how much of one family's signal
    * another already covers, the second axis of family selection. */
  def overlapReport(docs: DataFrame, textCol: String,
      idCol: String): DataFrame =
    overlapReportFrom(Materialized(detectedPairs(
      Materialized(plantedCorpus(docs, textCol, idCol)))))

  /** [[overlapReport]] over a PREBUILT (materialized/cached) detected-
    * pair frame — the sharing twin of [[evalReportFrom]]. */
  def overlapReportFrom(det: DataFrame): DataFrame = {
    val spark = det.sparkSession
    import spark.implicits._
    val common = det.as("x")
      .join(det.as("y"),
        col("x.doc_a") === col("y.doc_a") &&
          col("x.doc_b") === col("y.doc_b") &&
          col("x.family") < col("y.family"))
      .groupBy(col("x.family").as("family_a"),
        col("y.family").as("family_b"))
      .agg(count(lit(1)).as("n_common_0"))
    val fams = Families.toDF("family")
    fams.select(col("family").as("family_a"))
      .crossJoin(fams.select(col("family").as("family_b")))
      .filter(col("family_a") < col("family_b"))
      .join(common, Seq("family_a", "family_b"), "left")
      .select(col("family_a"), col("family_b"),
        coalesce(col("n_common_0"), lit(0L)).as("n_common"))
  }
}
