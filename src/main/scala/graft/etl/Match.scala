package graft.etl

import graft.functions.{GraftFunctions, Text}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tunables of the matching stage (reference:
  * config/pipeline_config.yaml:38-64). */
case class MatchConfig(
    fuzzyThreshold: Double = 0.75,
    llmMinScore: Double = 0.60,
    llmMaxScore: Double = 0.75,
    fuzzyWeight: Double = 0.7,
    llmWeight: Double = 0.3,
    blockKeyLen: Int = 4,
    useLlm: Boolean = false,
    broadcastRight: Boolean = false,
    /** Hard cap on the uncertain band collected to the driver for LLM
      * rescue. Driver-side scoring is reference parity
      * (entity_match.py:537-538 — API calls cannot run in executors),
      * but an unguarded collect of a 100 TB corpus's band is a driver
      * OOM; the run fails fast with sizing guidance instead. */
    maxLlmBand: Long = 100000L)

/** Pluggable scorer for the uncertain band (reference:
  * src/common/llm_matcher.py:69-205). The default deterministic stub
  * mirrors the reference's `is_available()==False` path, which returns a
  * neutral 0.5 for every pair (llm_matcher.py:92-99). Runs on the driver
  * over the (small) collected band, exactly like the reference
  * (entity_match.py:537-538 notes API calls cannot run in executors). */
trait LlmScorer extends Serializable {
  def score(crawlName: String, abrName: String): Double
}
object NeutralLlmScorer extends LlmScorer {
  def score(crawlName: String, abrName: String): Double = 0.5
}

/**
 * Blocked fuzzy entity matching
 * (reference: src/transform/entity_match.py:437-628).
 *
 * Pipeline: equi-join on block_key → similarity score → threshold bands →
 * best-match-per-crawl_url argmax → optional LLM rescue of the uncertain
 * band → union.
 *
 * Spark-native notes vs the reference:
 *  - The reference broadcasts the 2M-row ABR side (entity_match.py:495) —
 *    an anti-pattern we do not replicate. By default we leave join
 *    strategy to Catalyst/AQE (sort-merge at scale, auto-broadcast when a
 *    side is small); `cfg.broadcastRight` opts into an explicit hint.
 *  - The per-CC-record candidate loop (`_find_best_match`,
 *    entity_match.py:143-220) becomes a max_by aggregation — one shuffle,
 *    map-side partial aggregation, no driver loop.
 *  - The fuzzy UDF becomes a codegen'd StaticInvoke expression.
 *  - Per-name work runs once per row, not once per candidate pair: each
 *    side projects its scorer-prepared name (token-sorted for
 *    token_sort_ratio) before the join, and the pairs are scored on the
 *    prepared strings.
 */
object Match {

  /** Similarity measure between two normalized-name columns, split into
    * a per-row preparation of each name and a per-pair score of the
    * prepared names: `score(prepare(a), prepare(b))` is the measure. */
  sealed trait Scorer {
    def prepare(name: Column): Column
    def score(a: Column, b: Column): Column
  }
  /** token_sort_ratio as InDel `ratio` over per-row token-sorted names
    * (bit-identical to `GraftFunctions.token_sort_ratio`). */
  case object TokenSortRatio extends Scorer {
    def prepare(name: Column): Column = GraftFunctions.token_sort(name)
    def score(a: Column, b: Column): Column = GraftFunctions.indel_ratio(a, b)
  }
  case object JaccardTokens extends Scorer {
    def prepare(name: Column): Column = name
    def score(a: Column, b: Column): Column = Text.jaccardTokens(a, b)
  }

  /**
   * Score all blocked candidate pairs. Inputs are the outputs of
   * Clean.web / Clean.abr (need crawl_url, clean_name, normalized_name,
   * block_key on the left; abn_clean, clean_name, normalized_name,
   * block_key on the right). Each side's prepared name rides the join as
   * a helper column, dropped after scoring.
   */
  def candidates(web: DataFrame, abr: DataFrame,
      scorer: Scorer = TokenSortRatio,
      cfg: MatchConfig = MatchConfig()): DataFrame = {
    val left = web.select(
      col("crawl_url"), col("clean_name").as("crawl_name"),
      col("normalized_name").as("crawl_norm"), col("block_key"),
      scorer.prepare(col("normalized_name")).as("_crawl_key"))
    val right0 = abr.select(
      col("abn_clean").as("abn"), col("clean_name").as("abr_name"),
      col("normalized_name").as("abr_norm"), col("block_key"),
      scorer.prepare(col("normalized_name")).as("_abr_key"))
    val right = if (cfg.broadcastRight) broadcast(right0) else right0
    left.join(right, "block_key")
      .withColumn("fuzzy_score", scorer.score(col("_crawl_key"), col("_abr_key")))
      .drop("_crawl_key", "_abr_key")
  }

  /** Keep the best candidate per crawl_url (argmax on score, ties broken
    * by smallest abn for determinism — entity_match.py:143-220). Uses
    * min_by over (-score, abn) instead of a row_number window: single
    * hash aggregation with map-side combine, no per-partition sort. */
  def bestPerUrl(scored: DataFrame, scoreCol: String = "fuzzy_score"): DataFrame = {
    val others = scored.columns.filterNot(c => c == "crawl_url")
    scored.groupBy("crawl_url")
      .agg(min_by(struct(others.map(col): _*),
        struct(-col(scoreCol), col("abn"))).as("_row"))
      .select(col("crawl_url") +: others.map(c => col(s"_row.$c").as(c)): _*)
  }

  /**
   * Full match run: candidates → threshold → argmax → final score/method
   * columns → optional LLM rescue band (entity_match.py:500-628).
   * Output schema = Schemas.matchResults.
   */
  def run(web: DataFrame, abr: DataFrame,
      scorer: Scorer = TokenSortRatio,
      cfg: MatchConfig = MatchConfig(),
      llm: LlmScorer = NeutralLlmScorer): DataFrame = {
    val scored = candidates(web, abr, scorer, cfg)

    val high = bestPerUrl(scored.filter(col("fuzzy_score") >= cfg.fuzzyThreshold))
      .select(
        col("crawl_url"), col("crawl_name"), col("abn"), col("abr_name"),
        col("fuzzy_score").cast("double").as("fuzzy_score"),
        lit(null).cast("double").as("llm_score"),
        col("fuzzy_score").cast("double").as("final_score"),
        lit("fuzzy").as("match_method"))

    if (!cfg.useLlm) return high

    // Uncertain band [llmMin, llmMax): collect the (small) band to the
    // driver, score via the pluggable LLM, re-weight, re-filter, union —
    // mirroring entity_match.py:525-609.
    val band = bestPerUrl(scored.filter(
      col("fuzzy_score") >= cfg.llmMinScore &&
        col("fuzzy_score") < cfg.llmMaxScore))
      .select("crawl_url", "crawl_name", "abn", "abr_name", "fuzzy_score")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // try/finally: a failed guard (or a failure inside collect/scoring)
    // must not leak the cached band for the session's lifetime. After
    // the collect the rescued rows are a LocalRelation, so unpersisting
    // in finally cannot invalidate anything downstream.
    val rescued = try {
      val bandCount = band.count() // guard BEFORE the collect, not after OOM
      require(bandCount <= cfg.maxLlmBand,
        s"LLM rescue band has $bandCount pairs > maxLlmBand=${cfg.maxLlmBand}; " +
          "tighten [llmMinScore, llmMaxScore) or raise maxLlmBand " +
          "(driver-side LLM scoring collects the whole band)")
      val spark = web.sparkSession
      import spark.implicits._
      band.collect().toSeq.map { r =>
        val fuzzy = r.getAs[Double]("fuzzy_score")
        val ls = llm.score(r.getAs[String]("crawl_name"), r.getAs[String]("abr_name"))
        val fin = cfg.fuzzyWeight * fuzzy + cfg.llmWeight * ls
        (r.getAs[String]("crawl_url"), r.getAs[String]("crawl_name"),
          r.getAs[String]("abn"), r.getAs[String]("abr_name"), fuzzy, ls, fin)
      }.toDF("crawl_url", "crawl_name", "abn", "abr_name",
          "fuzzy_score", "llm_score", "final_score")
        .filter(col("final_score") >= cfg.fuzzyThreshold)
        .withColumn("match_method", lit("fuzzy+llm"))
    } finally band.unpersist()

    high.unionByName(rescued)
  }
}
