package graft

import graft.corpus.CorpusPipeline
import graft.dedup.TextDedup
import graft.embeddings.EmbeddingOps
import graft.etl.{Clean, Match, MatchConfig}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.DatasetBridge

/**
 * Round-5 verdict #4: every `persist` must have an unpersist point — a
 * lazy-returning operator has none, so those intermediates now go
 * through [[graft.operators.Materialized]] (localCheckpoint: RDD-owned
 * blocks, released by the ContextCleaner, never registered in the
 * session CacheManager). This spec runs each dedup / ANN / pipeline
 * operator END TO END and asserts the CacheManager is empty afterwards
 * — the session-lifetime leak the audit found cannot reappear without
 * failing here.
 */
class CacheHygieneSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Demo.table(spark, sf(), "documents")
  private lazy val emb = Demo.table(spark, sf(), "embeddings")
  private lazy val bench = docs.filter($"doc_id" % 10 === 3)

  /** Other suites in this JVM may legitimately hold session-lifetime
    * caches (SparkEntry's shared demo frames), so each check starts from
    * a clean CacheManager, fully consumes the operator's result, and
    * then asserts emptiness. */
  private def assertNoCacheEntries(tag: String)(body: => DataFrame): Unit = {
    spark.catalog.clearCache()
    val n = body.count()
    assert(n >= 0)
    assert(DatasetBridge.cacheIsEmpty(spark),
      s"$tag left entries in the session CacheManager")
  }

  test("ngramJaccardPairs leaves no cache entries") {
    assertNoCacheEntries("ngramJaccardPairs") {
      TextDedup.ngramJaccardPairs(docs, "text", "doc_id", threshold = 0.8)
    }
  }

  test("minhashLshPairs leaves no cache entries") {
    assertNoCacheEntries("minhashLshPairs") {
      TextDedup.minhashLshPairs(docs, "text", "doc_id")
    }
  }

  test("simhashPairs (wide default) leaves no cache entries") {
    assertNoCacheEntries("simhashPairs") {
      TextDedup.simhashPairs(docs, "text", "doc_id")
    }
  }

  test("simhashPairsChunked (capped and uncapped) leaves no cache entries") {
    assertNoCacheEntries("simhashPairsChunked") {
      TextDedup.simhashPairsChunked(docs, "text", "doc_id")
    }
    assertNoCacheEntries("simhashPairsChunked(cap)") {
      TextDedup.simhashPairsChunked(docs, "text", "doc_id",
        maxChunkFreq = Some(200L))
    }
  }

  test("decontaminate leaves no cache entries") {
    assertNoCacheEntries("decontaminate") {
      TextDedup.decontaminate(docs, bench, "text", "doc_id")
    }
  }

  test("decontaminateBloom and videoDedupPairs leave no cache entries") {
    val name = TextDedup.registerBenchBloom(spark, bench, "text",
      name = "spec-hygiene-bloom")
    assertNoCacheEntries("decontaminateBloom") {
      TextDedup.decontaminateBloom(docs, bench, "text", "doc_id", name)
    }
    assertNoCacheEntries("videoDedupPairs") {
      graft.multimodal.Multimodal.videoDedupPairs(
        docs.withColumn("payload",
          org.apache.spark.sql.functions.encode(
            org.apache.spark.sql.functions.col("text"), "UTF-8")),
        "payload", "doc_id")
    }
  }

  test("dedupAgainstCorpus leaves no cache entries") {
    assertNoCacheEntries("dedupAgainstCorpus") {
      TextDedup.dedupAgainstCorpus(
        docs.filter($"doc_id" % 10 === 7), docs.filter($"doc_id" % 10 =!= 7),
        "text", "doc_id")
    }
  }

  test("embedding operators leave no cache entries") {
    assertNoCacheEntries("cosinePairs") {
      EmbeddingOps.cosinePairs(emb, "embedding", "vec_id", threshold = 0.45)
    }
    assertNoCacheEntries("lshCosinePairs") {
      EmbeddingOps.lshCosinePairs(emb, "embedding", "vec_id", threshold = 0.45)
    }
    assertNoCacheEntries("bruteForceTopK") {
      EmbeddingOps.bruteForceTopK(
        emb.filter($"vec_id" < 5), emb, "embedding", "vec_id", k = 3)
    }
    val cents = EmbeddingOps.ivfCentroids(emb, "embedding", "vec_id", 8)
    assertNoCacheEntries("SemanticDedup.pairs") {
      graft.embeddings.SemanticDedup.pairs(
        emb, "embedding", "vec_id", cents, threshold = 0.45)
    }
    assertNoCacheEntries("SemanticDedup.keepers") {
      graft.embeddings.SemanticDedup.keepers(
        emb, "embedding", "vec_id", cents, threshold = 0.45)
    }
    assertNoCacheEntries("Quantization.recallAtK") {
      graft.embeddings.Quantization.recallAtK(
        emb.filter($"vec_id" < 5), emb, "embedding", "vec_id", k = 3)
    }
  }

  test("corpus pipeline (keepers + prepare + stageStats) leaves no cache entries") {
    assertNoCacheEntries("keepers") {
      CorpusPipeline.keepers(docs, "text", "doc_id")
    }
    assertNoCacheEntries("prepare") {
      CorpusPipeline.prepare(docs, bench, "text", "doc_id", "lang",
        targetShares = Map("en" -> 0.6, "de" -> 0.4))
    }
    spark.catalog.clearCache()
    val stats = CorpusPipeline.stageStats(docs, bench, "text", "doc_id",
      "lang", targetShares = Map("en" -> 0.6, "de" -> 0.4))
    assert(stats.nonEmpty)
    assert(DatasetBridge.cacheIsEmpty(spark),
      "stageStats left entries in the session CacheManager")
  }

  test("Materialized strategies: none/persist/localCheckpoint agree; persist is caller-owned") {
    val key = graft.operators.Materialized.ConfKey
    def pairs(): Set[(Long, Long)] =
      EmbeddingOps.lshCosinePairs(emb, "embedding", "vec_id", threshold = 0.45)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    try {
      spark.catalog.clearCache()
      val viaCheckpoint = pairs() // default strategy
      assert(DatasetBridge.cacheIsEmpty(spark))

      // none: no materialization, no cache entries, identical result
      spark.conf.set(key, "none")
      assert(pairs() == viaCheckpoint)
      assert(DatasetBridge.cacheIsEmpty(spark),
        "strategy=none must not touch the CacheManager")

      // persist: lineage kept, CacheManager entry OWNED BY THE CALLER —
      // visible after the operator, gone after releaseAll
      spark.conf.set(key, "persist")
      assert(pairs() == viaCheckpoint)
      assert(!DatasetBridge.cacheIsEmpty(spark),
        "strategy=persist should leave caller-owned entries")
      assert(graft.operators.Materialized.releaseAll(spark) > 0)
      assert(DatasetBridge.cacheIsEmpty(spark),
        "releaseAll must drain every owned entry")
      assert(graft.operators.Materialized.releaseAll(spark) == 0)

      spark.conf.set(key, "bogus")
      intercept[IllegalArgumentException] { pairs() }
    } finally spark.conf.unset(key)
  }

  test("Match.run unpersists the LLM band on success AND on guard failure") {
    val web = Clean.web(Demo.ccRaw(spark, sf()))
    val abr = Clean.abr(Demo.abrRaw(spark, sf()))
    val cfg = MatchConfig(fuzzyThreshold = 0.75, llmMinScore = 0.60,
      llmMaxScore = 0.75, useLlm = true)
    assertNoCacheEntries("Match.run(llm)") {
      Match.run(web, abr, Match.JaccardTokens, cfg)
    }
    // Guard failure path: maxLlmBand = 0 trips the require AFTER the
    // band was persisted — the try/finally must still release it.
    spark.catalog.clearCache()
    intercept[IllegalArgumentException] {
      Match.run(web, abr, Match.JaccardTokens, cfg.copy(maxLlmBand = 0))
    }
    assert(DatasetBridge.cacheIsEmpty(spark),
      "failed LLM-band guard leaked the persisted band")
  }

  test("releaseSharedFrames drops a dir's cached frames; re-access rebuilds them") {
    spark.catalog.clearCache()
    val dir = sf()
    // populate a shared frame for this (session, dir)
    val before = SparkEntry.queries("dedup_image_pairs")(spark, dir).count()
    assert(!DatasetBridge.cacheIsEmpty(spark),
      "expected the shared media-pair frame to be cached")
    SparkEntry.releaseSharedFrames(spark, dir)
    assert(DatasetBridge.cacheIsEmpty(spark),
      "releaseSharedFrames left CacheManager entries for the dir")
    // the registry forgot the frame: the next access rebuilds and
    // re-caches, and the result is unchanged
    val after = SparkEntry.queries("dedup_image_pairs")(spark, dir).count()
    assert(after == before)
    assert(!DatasetBridge.cacheIsEmpty(spark))
    SparkEntry.releaseSharedFrames(spark, dir)

    // Counts and model fits go with the frames, and only the released
    // dir's entries go: another dir's frame stays persisted and its
    // entries are not rebuilt.
    val builds = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    def entries(d: String): (DataFrame, AnyRef, AnyRef) = (
      SparkEntry.cachedFrame(spark, d, "spec_frame") {
        builds(s"$d frame") += 1
        spark.range(3).select(org.apache.spark.sql.functions.lit(d).as("dir"))
      },
      SparkEntry.cached(spark, d, "spec_count") {
        builds(s"$d count") += 1
        java.lang.Long.valueOf(3L)
      },
      SparkEntry.cached(spark, d, "spec_model") {
        builds(s"$d model") += 1
        Array(1.0, 2.0)
      })
    val other = s"$dir-other"
    val (mine, _, _) = entries(dir)
    val (theirs, theirCount, theirModel) = entries(other)
    assert(mine.count() == 3 && theirs.count() == 3)
    SparkEntry.releaseSharedFrames(spark, dir)
    val none = org.apache.spark.storage.StorageLevel.NONE
    assert(mine.storageLevel == none, "released frame still persisted")
    assert(theirs.storageLevel != none, "another dir's frame was unpersisted")
    val (_, count2, model2) = entries(other)
    assert((count2 eq theirCount) && (model2 eq theirModel))
    entries(dir)
    assert(builds.toMap == Seq("frame", "count", "model").flatMap(k =>
      Seq(s"$dir $k" -> 2, s"$other $k" -> 1)).toMap)
    SparkEntry.releaseSharedFrames(spark, dir)
    SparkEntry.releaseSharedFrames(spark, other)
    assert(DatasetBridge.cacheIsEmpty(spark))
  }
}
