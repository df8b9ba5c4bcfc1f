package graft.etl

import org.apache.spark.sql.DataFrame

/** Per-run statistics, mirroring the reference's stats dict
  * (src/pipeline.py:238-297: run_id, per-stage row counts, duration,
  * status). */
case class RunStats(
    runId: String,
    ccExtracted: Long,
    abrExtracted: Long,
    ccCleaned: Long,
    abrCleaned: Long,
    matchesFound: Long,
    unifiedCount: Long,
    durationSeconds: Double,
    status: String)

/** Outputs of one pipeline run. */
case class PipelineResult(
    webCleaned: DataFrame,
    abrCleaned: DataFrame,
    matches: DataFrame,
    dim: DataFrame,
    matchStats: DataFrame,
    stats: RunStats)

/**
 * The 4-stage orchestrator (reference: ETLPipeline,
 * src/pipeline.py:216-309) — extract → transform → match → golden/stats —
 * over already-loaded raw frames (extraction itself lives in
 * graft.io.Sources / graft.io.Ingest).
 *
 * Unlike the reference, stages stay lazy DataFrames; the only actions are
 * the per-stage counts collected into RunStats — same observability, one
 * logical plan per output instead of driver-materialized lists.
 */
object Pipeline {

  /**
   * Retry with exponential backoff — the reference's tenacity policy
   * (pipeline.py:76-114: 3 attempts, exponential 4-10 s). Sleep time is
   * min(base·2^attempt, maxMs). Use around driver-side IO (downloads,
   * JDBC); Spark tasks already retry internally.
   *
   * Only non-fatal failures matching `retryIf` are retried: fatal errors
   * and InterruptedException always propagate immediately (backing off on
   * an interrupt would swallow cancellation), and callers with
   * non-transient failure modes (HTTP 4xx, parse errors) pass a predicate
   * so those fail fast instead of burning the full backoff schedule.
   */
  def retry[T](attempts: Int = 3, baseMs: Long = 4000, maxMs: Long = 10000,
      retryIf: Throwable => Boolean = _ => true)(f: => T): T = {
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return f
      catch {
        case scala.util.control.NonFatal(e) if retryIf(e) =>
          last = e
          i += 1
          if (i < attempts)
            Thread.sleep(math.min(baseMs * (1L << (i - 1)), maxMs))
      }
    }
    throw last
  }

  /** Full run over raw web + ABR frames. `validAbnOnly` reproduces the
    * reference's checksum filter (clean_abr.py:267). */
  def run(webRaw: DataFrame, abrRaw: DataFrame,
      matchCfg: MatchConfig = MatchConfig(),
      scorer: Match.Scorer = Match.TokenSortRatio,
      llm: LlmScorer = NeutralLlmScorer,
      validAbnOnly: Boolean = true,
      runId: String = java.util.UUID.randomUUID.toString.take(8)): PipelineResult = {
    val t0 = System.nanoTime()
    try {
      val ccExtracted = webRaw.count()
      val abrExtracted = abrRaw.count()

      val web = Clean.web(webRaw, matchCfg.blockKeyLen)
      val abr0 = Clean.abr(abrRaw, matchCfg.blockKeyLen)
      val abr = if (validAbnOnly)
        abr0.filter(org.apache.spark.sql.functions.col("is_valid_abn"))
      else abr0
      val ccCleaned = web.count()
      val abrCleaned = abr.count()

      val matches = Match.run(web, abr, scorer, matchCfg, llm)
      val matchesFound = matches.count()

      val matched = Golden.matchedCompanies(matches, web, abr,
        minScore = matchCfg.fuzzyThreshold)
      val dim = Golden.dimCompanies(matched, abr)
      val unified = dim.count()

      val stats = Stats.matchStatistics(web, abr, matches)
      PipelineResult(web, abr, matches, dim, stats,
        RunStats(runId, ccExtracted, abrExtracted, ccCleaned, abrCleaned,
          matchesFound, unified, (System.nanoTime() - t0) / 1e9, "completed"))
    } catch {
      case e: Throwable =>
        throw new RuntimeException(
          f"Pipeline run $runId failed after ${(System.nanoTime() - t0) / 1e9}%.1f s",
          e)
    }
  }
}
