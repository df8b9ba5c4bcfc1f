package graft

import graft.etl._
import org.apache.spark.sql.functions._

/** End-to-end ETL pipeline over the sf0.001 testdata (mirrors the
  * reference's tests/test_matching.py semantics on the demo frames). */
class EtlSpec extends SparkSpec {

  private lazy val web = Clean.web(Demo.ccRaw(spark, sf()))
  private lazy val abr = Clean.abr(Demo.abrRaw(spark, sf()))
  private lazy val cfg = MatchConfig(fuzzyThreshold = 0.6)

  test("clean web: dedup to distinct normalized names, AU domains") {
    val rows = web.collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[String]("normalized_name")).distinct.length == rows.length)
    assert(rows.forall(_.getAs[Boolean]("is_au_domain")))
    assert(rows.forall(_.getAs[String]("block_key").length <= 4))
  }

  test("clean abr: 11-digit abns, canonical states/status") {
    val rows = abr.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("abn_clean").length == 11))
    val states = rows.map(_.getAs[String]("state_std")).toSet
    assert(states.subsetOf(graft.functions.Text.ValidStates.toSet))
    assert(rows.map(_.getAs[String]("status_std")).toSet
      .subsetOf(Set("Active", "Cancelled")))
  }

  test("match: exact-name pairs score 1.0; every match >= threshold; best per url") {
    val m = Match.run(web, abr, Match.JaccardTokens, cfg).collect()
    assert(m.nonEmpty)
    assert(m.forall(_.getAs[Double]("final_score") >= 0.6))
    assert(m.map(_.getAs[String]("crawl_url")).distinct.length == m.length)
    // exact normalized-name pairs must score 1.0
    val exact = m.filter(r => r.getAs[String]("crawl_name").toUpperCase
      .startsWith(r.getAs[String]("abr_name").split(" ")(0).toUpperCase))
    assert(exact.exists(_.getAs[Double]("fuzzy_score") == 1.0))
  }

  test("match with LLM band: rescued rows carry fuzzy+llm method and hybrid score") {
    val m = Match.run(web, abr, Match.JaccardTokens,
      cfg.copy(useLlm = true, fuzzyThreshold = 0.7, llmMinScore = 0.6,
        llmMaxScore = 0.7))
    val rescued = m.filter(col("match_method") === "fuzzy+llm").collect()
    // stub scorer gives 0.5 → final = 0.7*fuzzy + 0.3*0.5; 2/3 band rows
    // score 0.7*2/3+0.15 ≈ 0.6167 < 0.7 threshold → none survive
    assert(rescued.isEmpty)
    val m2 = Match.run(web, abr, Match.JaccardTokens,
      cfg.copy(useLlm = true, fuzzyThreshold = 0.61, llmMinScore = 0.6,
        llmMaxScore = 0.61))
    assert(m2.columns.toSeq == Schemas.matchResults.fieldNames.toSeq)
  }

  test("match with LLM band: oversized band fails fast instead of collecting") {
    val e = intercept[IllegalArgumentException] {
      Match.run(web, abr, Match.JaccardTokens,
        cfg.copy(useLlm = true, fuzzyThreshold = 0.7, llmMinScore = 0.0,
          llmMaxScore = 0.7, maxLlmBand = 1L))
    }
    assert(e.getMessage.contains("maxLlmBand"))
    // the default cap leaves the normal path untouched
    val m = Match.run(web, abr, Match.JaccardTokens,
      cfg.copy(useLlm = true, fuzzyThreshold = 0.7, llmMinScore = 0.6,
        llmMaxScore = 0.7))
    assert(m.columns.toSeq == Schemas.matchResults.fieldNames.toSeq)
  }

  test("golden dim: no duplicate abns, quality checks pass") {
    val matched = Golden.matchedCompanies(
      Match.run(web, abr, Match.JaccardTokens, cfg), web, abr, minScore = 0.6)
    val dim = Golden.dimCompanies(matched, abr)
    val report = Quality.report(dim).head()
    val checks = report.schema.fieldNames.map(f => f -> report.getAs[Long](f)).toMap
    assert(checks.size == 5 && checks.values.forall(_ == 0L), s"violations: $checks")
    assert(dim.filter(col("data_source") === "MATCHED").count() > 0)
    assert(dim.filter(col("data_source") === "ABR_ONLY").count() > 0)
  }

  test("source freshness: pass/warn/error bands and null-timestamp error") {
    import spark.implicits._
    val asOf = to_timestamp(lit("2026-01-01 00:00:00"))
    def status(maxTs: String): String =
      Quality.sourceFreshness(
        Seq(("2025-01-01 00:00:00"), (maxTs)).toDF("ts")
          .select(to_timestamp(col("ts")).as("ts")),
        "ts", "s", asOf = asOf)
        .head().getAs[String]("freshness_status")
    assert(status("2025-12-31 12:00:00") == "pass")  // 12 h old
    assert(status("2025-12-30 12:00:00") == "warn")  // 36 h old
    assert(status("2025-12-28 00:00:00") == "error") // 96 h old
    val empty = Quality.sourceFreshness(
      Seq.empty[String].toDF("ts").select(to_timestamp(col("ts")).as("ts")),
      "ts", "s", asOf = asOf).head()
    assert(empty.getAs[String]("freshness_status") == "error")
    val r = Quality.sourceFreshness(
      Seq("2025-12-31 00:00:00").toDF("ts")
        .select(to_timestamp(col("ts")).as("ts")),
      "ts", "events", asOf = asOf).head()
    assert(r.getAs[String]("source") == "events")
    assert(r.getAs[Double]("age_hours") == 24.0) // boundary: 24 h = pass
    assert(r.getAs[String]("freshness_status") == "pass")
  }

  test("stats: one row, rates within [0,100]") {
    val m = Match.run(web, abr, Match.JaccardTokens, cfg)
    val st = Stats.matchStatistics(web, abr, m).collect()
    assert(st.length == 1)
    val rate = st(0).getAs[Double]("match_rate_pct")
    assert(rate >= 0.0 && rate <= 100.0)
  }
}
