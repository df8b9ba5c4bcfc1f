package graft

import graft.embeddings.EmbeddingOps
import org.apache.spark.sql.functions._

class EmbeddingIndexSpec extends SparkSpec {

  test("persisted IVF index serves identical results to in-memory ivfTopK") {
    val path = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val emb = Demo.table(spark, sf(), "embeddings")
    val queries = emb.filter(col("vec_id") < EmbeddingOps.DemoQueryCount)
    EmbeddingOps.writeIvfIndex(emb, "embedding", "vec_id", nlist = 8, path)
    val fromIndex = EmbeddingOps.ivfTopKFromIndex(queries, path, emb,
      "embedding", "vec_id", k = 5, nlist = 8, nprobe = 2)
      .orderBy("query_id", "rank").collect()
    val inMemory = EmbeddingOps.ivfTopK(queries, emb, "embedding", "vec_id",
      k = 5, nlist = 8, nprobe = 2)
      .orderBy("query_id", "rank").collect()
    assert(fromIndex.length == inMemory.length && fromIndex.nonEmpty)
    assert(fromIndex.map(_.toString).toSeq == inMemory.map(_.toString).toSeq)
  }

  test("persisted SQ8 index serves results identical to in-memory IVF+SQ8") {
    val path = java.nio.file.Files.createTempDirectory("graft-sq8").toString
    val emb = Demo.table(spark, sf(), "embeddings")
    val queries = emb.filter(col("vec_id") < EmbeddingOps.DemoQueryCount)
    val cents = EmbeddingOps.ivfCentroids(emb, "embedding", "vec_id", 8)
    graft.embeddings.Quantization.writeIvfSq8Index(
      emb, "embedding", "vec_id", nlist = 8, path, Some(cents))
    // the layout stores codes + scale, never the float vectors
    val schema = spark.read.parquet(path).schema.fieldNames.toSet
    assert(schema == Set("vec_id", "scale", "q", "cluster"), schema)
    val fromIndex = graft.embeddings.Quantization.ivfSq8TopKFromIndex(
      queries, path, "embedding", "vec_id", k = 5, nprobe = 2, cents)
      .orderBy("query_id", "rank").collect()
    val inMemory = graft.embeddings.Quantization.ivfQuantizedTopK(
      queries, emb, "embedding", "vec_id", k = 5, nlist = 8, nprobe = 2,
      Some(cents))
      .orderBy("query_id", "rank").collect()
    assert(fromIndex.nonEmpty &&
      fromIndex.map(_.toString).toSeq == inMemory.map(_.toString).toSeq)
  }

  test("persisted PQ index serves results identical to in-memory IVF+PQ") {
    val path = java.nio.file.Files.createTempDirectory("graft-pqi").toString
    val emb = Demo.table(spark, sf(), "embeddings")
    val queries = emb.filter(col("vec_id") < EmbeddingOps.DemoQueryCount)
    val cents = EmbeddingOps.ivfCentroids(emb, "embedding", "vec_id", 8)
    val cb = graft.embeddings.ProductQuantization.demoCodebook(
      emb, "embedding", "vec_id", m = 8, ksub = 16)
    graft.embeddings.ProductQuantization.writeIvfPqIndex(
      emb, "embedding", "vec_id", nlist = 8, path, cb, m = 8, ksub = 16,
      Some(cents))
    // 8 codes per vector and nothing else — the 32x-compressed layout
    val idx = spark.read.parquet(path)
    assert(idx.schema.fieldNames.toSet == Set("vec_id", "codes", "cluster"))
    assert(idx.select(org.apache.spark.sql.functions.size(col("codes")))
      .distinct().collect().map(_.getInt(0)).toSeq == Seq(8))
    val fromIndex = graft.embeddings.ProductQuantization.ivfPqTopKFromIndex(
      queries, path, "embedding", "vec_id", k = 5, nprobe = 2, cb,
      ksub = 16, cents)
      .orderBy("query_id", "rank").collect()
    val inMemory = graft.embeddings.ProductQuantization.ivfPqTopK(
      queries, emb, "embedding", "vec_id", k = 5, nlist = 8, nprobe = 2,
      cb, m = 8, ksub = 16, Some(cents))
      .orderBy("query_id", "rank").collect()
    assert(fromIndex.nonEmpty &&
      fromIndex.map(_.toString).toSeq == inMemory.map(_.toString).toSeq)
  }

  test("from-index rerank equals in-memory rerank (full production path)") {
    val path = java.nio.file.Files.createTempDirectory("graft-prod").toString
    val emb = Demo.table(spark, sf(), "embeddings")
    val queries = emb.filter(col("vec_id") < EmbeddingOps.DemoQueryCount)
    val cents = EmbeddingOps.kmeansCentroids(emb, "embedding", "vec_id",
      nlist = 8)
    val cb = graft.embeddings.ProductQuantization.trainedCodebook(
      emb, "embedding", "vec_id", m = 8, ksub = 16)
    graft.embeddings.ProductQuantization.writeIvfPqIndex(
      emb, "embedding", "vec_id", nlist = 8, path, cb, m = 8, ksub = 16,
      Some(cents))
    val fromIndex = graft.embeddings.ProductQuantization
      .ivfPqRerankTopKFromIndex(queries, path, emb, "embedding", "vec_id",
        k = 5, nprobe = 2, cb, ksub = 16, cents, rerankK = 50)
      .orderBy("query_id", "rank").collect()
    val inMemory = graft.embeddings.ProductQuantization.ivfPqRerankTopK(
      queries, emb, "embedding", "vec_id", k = 5, nlist = 8, nprobe = 2,
      cb, m = 8, ksub = 16, rerankK = 50, Some(cents))
      .orderBy("query_id", "rank").collect()
    assert(fromIndex.nonEmpty &&
      fromIndex.map(_.toString).toSeq == inMemory.map(_.toString).toSeq)
    // the rerank stage re-scores in float: cosine values must come from
    // the exact vectors, not the PQ reconstructions
    assert(fromIndex.forall(r => !r.schema.fieldNames.contains("cosine_pq")))
  }

  test("SQ8/PQ probe joins prune persisted index partitions dynamically") {
    val emb = Demo.table(spark, sf(), "embeddings")
    val cents = EmbeddingOps.ivfCentroids(emb, "embedding", "vec_id", 8)
    val oneQuery = emb.filter(col("vec_id") === 0)
    def assertPruned(plan: String): Unit =
      assert(plan.contains("dynamicpruning") ||
        plan.contains("DynamicPruning") ||
        plan.contains("PartitionFilters: [isnotnull(cluster"),
        s"no partition pruning on the index scan:\n$plan")

    val sq8Path = java.nio.file.Files.createTempDirectory("graft-sq8p").toString
    graft.embeddings.Quantization.writeIvfSq8Index(
      emb, "embedding", "vec_id", nlist = 8, sq8Path, Some(cents))
    val sq8 = graft.embeddings.Quantization.ivfSq8TopKFromIndex(
      oneQuery, sq8Path, "embedding", "vec_id", k = 3, nprobe = 2, cents)
    sq8.collect()
    assertPruned(sq8.queryExecution.executedPlan.toString)

    val pqPath = java.nio.file.Files.createTempDirectory("graft-pqp").toString
    val cb = graft.embeddings.ProductQuantization.demoCodebook(
      emb, "embedding", "vec_id", m = 8, ksub = 16)
    graft.embeddings.ProductQuantization.writeIvfPqIndex(
      emb, "embedding", "vec_id", nlist = 8, pqPath, cb, m = 8, ksub = 16,
      Some(cents))
    val pq = graft.embeddings.ProductQuantization.ivfPqTopKFromIndex(
      oneQuery, pqPath, "embedding", "vec_id", k = 3, nprobe = 2, cb,
      ksub = 16, cents)
    pq.collect()
    assertPruned(pq.queryExecution.executedPlan.toString)
  }

  test("probe join prunes index partitions dynamically") {
    val path = java.nio.file.Files.createTempDirectory("graft-ivf2").toString
    val emb = Demo.table(spark, sf(), "embeddings")
    EmbeddingOps.writeIvfIndex(emb, "embedding", "vec_id", nlist = 8, path)
    // a single query probes nprobe=2 of the 8 cluster directories
    val oneQuery = emb.filter(col("vec_id") === 0)
    val served = EmbeddingOps.ivfTopKFromIndex(oneQuery, path, emb,
      "embedding", "vec_id", k = 3, nlist = 8, nprobe = 2)
    served.collect()
    // the index scan must carry a dynamic-pruning (or pushed-in) filter
    // on the cluster partition column rather than reading all directories
    val planStr = served.queryExecution.executedPlan.toString
    assert(planStr.contains("dynamicpruning") ||
      planStr.contains("DynamicPruning") ||
      planStr.contains("PartitionFilters: [isnotnull(cluster"),
      s"no partition pruning on the index scan:\n$planStr")
  }

  test("every ANN top-k entry point: schema, no self pair, <= k per query, ties by neighbor_id") {
    import graft.embeddings.{Opq, ProductQuantization => PQ, Quantization}
    import spark.implicits._
    // 40 distinct base vectors plus three exact copies of ids 0..9
    // (ids 40..69): every query in 0..9 ties at cosine 1.0 with its
    // copies. Ids >= 50 carry label "b", so hard-negative queries (all
    // label "a") still tie on their two label-"b" copies.
    val rnd = new scala.util.Random(7)
    val base = Array.fill(40)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 70).map { id =>
      (id.toLong, if (id < 40) base(id) else base(id % 10),
        if (id >= 50) "b" else "a")
    }.toDF("vec_id", "embedding", "label")
    val queries = vecs.filter(col("vec_id") < 10)
    val (v, id, k) = ("embedding", "vec_id", 5)
    val cents = EmbeddingOps.ivfCentroids(vecs, v, id, 4)
    val cb = PQ.demoCodebook(vecs, v, id, m = 4, ksub = 8)
    def dir(tag: String) =
      java.nio.file.Files.createTempDirectory(s"graft-ann-$tag").toString
    val ivfPath = dir("ivf")
    EmbeddingOps.writeIvfIndex(vecs, v, id, 4, ivfPath, Some(cents))
    val sq8Path = dir("sq8")
    Quantization.writeIvfSq8Index(vecs, v, id, 4, sq8Path, Some(cents))
    val pqPath = dir("pq")
    PQ.writeIvfPqIndex(vecs, v, id, 4, pqPath, cb, m = 4, ksub = 8, Some(cents))
    val model = Opq.train(vecs, v, id, m = 4, ksub = 8)
    val opqPath = dir("opq")
    val opqCents = Opq.writeProductionIndex(vecs, v, id, model, 4, opqPath)

    def pinned(score: String) =
      s"query_id:bigint,neighbor_id:bigint,$score:double,rank:int"
    val entryPoints: Seq[(String, String, () => org.apache.spark.sql.DataFrame)] = Seq(
      ("bruteForceTopK", pinned("cosine"),
        () => EmbeddingOps.bruteForceTopK(queries, vecs, v, id, k)),
      ("ivfTopK", pinned("cosine"),
        () => EmbeddingOps.ivfTopK(queries, vecs, v, id, k, 4, 2, Some(cents))),
      ("ivfTopKFromIndex", pinned("cosine"),
        () => EmbeddingOps.ivfTopKFromIndex(queries, ivfPath, vecs, v, id, k,
          4, 2, Some(cents))),
      ("ivfHardNegatives", "query_id:bigint,anchor_label:string," +
        "neighbor_id:bigint,neighbor_label:string,cosine:double,rank:int",
        () => EmbeddingOps.ivfHardNegatives(queries, vecs, v, id, "label", k,
          4, 2, Some(cents))),
      ("quantizedTopK", pinned("cosine_q"),
        () => Quantization.quantizedTopK(queries, vecs, v, id, k)),
      ("ivfQuantizedTopK", pinned("cosine_adc"),
        () => Quantization.ivfQuantizedTopK(queries, vecs, v, id, k, 4, 2,
          Some(cents))),
      ("ivfSq8TopKFromIndex", pinned("cosine_adc"),
        () => Quantization.ivfSq8TopKFromIndex(queries, sq8Path, v, id, k, 2,
          cents)),
      ("adcTopK", pinned("cosine_pq"),
        () => PQ.adcTopK(queries, vecs, v, id, k, cb, 4, 8)),
      ("ivfPqTopK", pinned("cosine_pq"),
        () => PQ.ivfPqTopK(queries, vecs, v, id, k, 4, 2, cb, 4, 8,
          Some(cents))),
      ("ivfPqTopKFromIndex", pinned("cosine_pq"),
        () => PQ.ivfPqTopKFromIndex(queries, pqPath, v, id, k, 2, cb, 8,
          cents)),
      ("ivfPqRerankTopK", pinned("cosine"),
        () => PQ.ivfPqRerankTopK(queries, vecs, v, id, k, 4, 2, cb, 4, 8,
          rerankK = 20, Some(cents))),
      ("ivfPqRerankTopKFromIndex", pinned("cosine"),
        () => PQ.ivfPqRerankTopKFromIndex(queries, pqPath, vecs, v, id, k, 2,
          cb, 8, cents, rerankK = 20)),
      ("Opq.adcTopK", pinned("cosine_pq"),
        () => Opq.adcTopK(queries, vecs, v, id, k, model)),
      ("Opq.productionTopKFromIndex", pinned("cosine"),
        () => Opq.productionTopKFromIndex(queries, opqPath, vecs, v, id, k,
          2, model, opqCents, rerankK = 20)))

    entryPoints.foreach { case (name, schema, run) =>
      val df = run()
      assert(df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
        .mkString(",") == schema, s"$name schema")
      val score = df.columns(df.columns.length - 2)
      val rows = df.select("query_id", "neighbor_id", score, "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      assert(rows.nonEmpty, name)
      assert(rows.forall(r => r._1 != r._2), s"$name returned a self pair")
      val perQuery = rows.groupBy(_._1)
      assert(perQuery.values.forall(_.length <= k), s"$name: > $k rows per query")
      var ties = 0
      perQuery.values.foreach { rs =>
        rs.sortBy(_._4).sliding(2).foreach {
          case Array(a, b) =>
            assert(a._3 >= b._3, s"$name ranks a lower score first: $a, $b")
            if (a._3 == b._3) {
              ties += 1
              assert(a._2 < b._2, s"$name breaks a tie against neighbor_id: $a, $b")
            }
          case _ =>
        }
      }
      assert(ties > 0, s"$name: the planted duplicates produced no tie")
    }
  }
}
