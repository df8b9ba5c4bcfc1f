package graft

import graft.corpus.CorpusPipeline
import graft.streaming.StreamingQualityStack
import graft.text.{LanguageModel, LogisticRegression}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming quality stack: per-batch gating against persisted
  * artifacts, batch-twin bit-equality, idempotent commit windows,
  * fixed-threshold (not per-batch-quantile) perplexity labels. */
class StreamingQualityStackSpec extends SparkSpec {
  import spark.implicits._

  private def lrLabel =
    array_contains(graft.text.TextAnalysis.tokens(col("text")), "spark")

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select("doc_id", "text")

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  private def buildDir(reference: DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("sqstack").toString
    val weights = LogisticRegression.trainWeights(reference, "text",
      "doc_id", lrLabel)
    StreamingQualityStack.buildArtifacts(reference, "text", "doc_id",
      weights, dir)
    dir
  }

  test("serving a corpus against its own artifacts is bit-identical to the batch stack") {
    val dir = buildDir(docs)
    val art = StreamingQualityStack.loadArtifacts(spark, dir)
    val weights = LogisticRegression.trainWeights(docs, "text",
      "doc_id", lrLabel)
    val batch = CorpusPipeline.qualityStack(docs, "text", "doc_id",
      lrLabel, weights)
    // three micro-batch epochs through the serve path, unioned — the
    // registered twin's exact composition
    val served = (0 until 3).map(b =>
      StreamingQualityStack.serveStack(
        docs.filter(col("doc_id") % 3 === b), "text", "doc_id", art))
      .reduce(_ unionByName _)
    assert(rows(served) === rows(batch))
    assert(served.count() === docs.count())
  }

  test("thresholds are the reference corpus's, never the micro-batch's own quantiles") {
    val dir = buildDir(docs)
    val art = StreamingQualityStack.loadArtifacts(spark, dir)
    // the reference corpus's worst-fluency documents: under per-batch
    // bucketing ~30% of ANY batch would be "head" by construction; a
    // batch made ONLY of tail documents must stay all-tail
    val scored = LanguageModel.scoreDocs(docs, "text", "doc_id")
    val tails = LanguageModel.bucketByThresholds(scored, "lm_score",
        art.thresholds)
      .filter(col("bucket") === "tail").select("doc_id")
    assert(tails.count() >= 3, "fixture needs some tail documents")
    val tailBatch = docs.join(tails, "doc_id")
    val served = StreamingQualityStack.serveStack(tailBatch, "text",
      "doc_id", art)
    val buckets = served.select("ppl_bucket").distinct()
      .collect().map(_.getString(0)).toSet
    assert(buckets === Set("tail"),
      s"an all-tail batch must label all-tail, got $buckets")
    // and the self-composition sanity: fixed thresholds over the same
    // frame reproduce bucketsByScore exactly
    val composed = LanguageModel.bucketByThresholds(scored, "lm_score",
      LanguageModel.scoreThresholds(scored, "lm_score"))
    assert(rows(composed) === rows(LanguageModel.bucketsByScore(scored,
      "lm_score")))
  }

  test("crash-window replay of a batch overwrites its own partition — no duplication") {
    val dir = buildDir(docs)
    val art = StreamingQualityStack.loadArtifacts(spark, dir)
    val out = s"$dir/out"
    val b = docs.limit(20)
    StreamingQualityStack.processBatch(b, 0L, "text", "doc_id", art, out)
    // the crash window: written but not committed → engine re-runs it
    StreamingQualityStack.processBatch(b, 0L, "text", "doc_id", art, out)
    val committed = spark.read.parquet(out)
    assert(committed.count() === 20)
    assert(committed.groupBy("doc_id").count()
      .filter(col("count") > 1).isEmpty)
  }

  test("stream end-to-end: gates apply per batch; restart resumes exactly-once") {
    val dir = buildDir(docs)
    val (outDir, ckDir) = (s"$dir/out", s"$dir/ck")
    val fixture = docs.orderBy("doc_id").limit(6)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q1 = StreamingQualityStack.start(
      mem.toDF.toDF("doc_id", "text"), "text", "doc_id", dir, outDir,
      ckDir)
    try {
      mem.addData(fixture(0), fixture(1), fixture(2))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the checkpoint: committed batch 0 is not replayed
    val q2 = StreamingQualityStack.start(
      mem.toDF.toDF("doc_id", "text"), "text", "doc_id", dir, outDir,
      ckDir)
    try {
      mem.addData(fixture(3), fixture(4), fixture(5))
      q2.processAllAvailable()
    } finally q2.stop()
    val committed = spark.read.parquet(outDir)
    assert(committed.count() === 6)
    assert(committed.select("batch_id").distinct().count() === 2)
    // the committed decisions are the batch stack's decisions
    val art = StreamingQualityStack.loadArtifacts(spark, dir)
    val expect = StreamingQualityStack.serveStack(
      fixture.toSeq.toDF("doc_id", "text"), "text", "doc_id", art)
    assert(rows(committed.drop("batch_id")) === rows(expect))
  }
}
