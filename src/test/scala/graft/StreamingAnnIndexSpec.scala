package graft

import graft.embeddings.{EmbeddingOps, ProductQuantization}
import graft.streaming.StreamingAnnIndex
import graft.streaming.StreamingAnnIndex.AnnModel
import org.apache.spark.sql.functions._

/** Incremental ANN serving index: rebuild bit-exactness, crash-window +
  * restart exactly-once proofs, compaction with preserved cell
  * partitioning, model round-trip, and the staleness gauge. */
class StreamingAnnIndexSpec extends SparkSpec {

  // toy geometry: dim 4, two coarse cells on the first two axes,
  // m=2 subspaces (dsub=2) with ksub=2 codes each — codes separable by
  // hand: code 0 ≈ (1,0), code 1 ≈ (0,1) in each subspace
  private val cents: Array[(Long, Array[Double], Double)] = Array(
    (0L, Array(1.0, 0.0, 0.0, 0.0), 1.0),
    (1L, Array(0.0, 1.0, 0.0, 0.0), 1.0))
  private val cb = Array(1.0, 0.0, 0.0, 1.0, 1.0, 0.0, 0.0, 1.0)
  private val model = AnnModel(2, 2, cents, cb)

  private def vecs(rows: (Long, Seq[Double])*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("vec_id", "embedding")
  }

  private def freshDirs(): (String, String, String) = {
    val d = java.nio.file.Files.createTempDirectory("annidx").toString
    (s"$d/index", s"$d/out", s"$d/model")
  }

  // partition-dir inference types `cluster` as int on the grown layout
  // and long on the rebuilt one — normalize for row comparison
  private def rowsOf(dir: String): Seq[(Long, Long, Seq[Int])] =
    spark.read.parquet(dir)
      .select(col("cluster").cast("long"), col("vec_id"), col("codes"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toSeq))
      .toSeq.sortBy(_._2)

  test("grown index rows are bit-identical to the full rebuild on testdata") {
    val emb = Demo.table(spark, sf(), "embeddings")
    val m = AnnModel(8, 16,
      EmbeddingOps.ivfCentroids(emb, "embedding", "vec_id", 8),
      ProductQuantization.demoCodebook(emb, "embedding", "vec_id",
        m = 8, ksub = 16))
    val d = java.nio.file.Files.createTempDirectory("anntwin").toString
    (0 until 3).foreach(b => StreamingAnnIndex.processBatch(
      emb.filter(col("vec_id") % 3 === b), b.toLong, "embedding",
      "vec_id", m, s"$d/grown", s"$d/out"))
    ProductQuantization.writeIvfPqIndex(emb, "embedding", "vec_id", 8,
      s"$d/rebuilt", m.cb, m.m, m.ksub, Some(m.cents))
    assert(rowsOf(s"$d/grown") === rowsOf(s"$d/rebuilt"))
    // and the serving reader over the grown layout returns the same
    // top-k as over the rebuilt layout
    val q = emb.filter(col("vec_id") < EmbeddingOps.DemoQueryCount)
    def serve(path: String) = ProductQuantization.ivfPqTopKFromIndex(
      q, path, "embedding", "vec_id", k = 5, nprobe = 2, m.cb, m.ksub,
      m.cents).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(serve(s"$d/grown") === serve(s"$d/rebuilt"))
  }

  test("crash between the two writes: batch replay replaces, not appends") {
    val (indexDir, outDir, _) = freshDirs()
    val b0 = vecs(1L -> Seq(0.9, 0.1, 0.0, 0.0), 2L -> Seq(0.1, 0.9, 0.0, 0.0))
    StreamingAnnIndex.processBatch(b0, 0L, "embedding", "vec_id", model,
      indexDir, outDir)
    // the crash window: the corpus commit survives, the index commit is
    // lost (for the first batch the index dir never appeared)
    def deleteRec(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    deleteRec(java.nio.file.Paths.get(indexDir))
    StreamingAnnIndex.processBatch(b0, 0L, "embedding", "vec_id", model,
      indexDir, outDir)
    assert(spark.read.parquet(outDir).collect()
      .map(_.getAs[Long]("vec_id")).sorted.toSeq === Seq(1L, 2L))
    assert(rowsOf(indexDir).map(_._2) === Seq(1L, 2L))
    // crash AFTER both writes: a full same-id replay overwrites both
    // partitions with identical rows (deterministic encoding)
    val before = rowsOf(indexDir)
    StreamingAnnIndex.processBatch(b0, 0L, "embedding", "vec_id", model,
      indexDir, outDir)
    assert(rowsOf(indexDir) === before)
    assert(spark.read.parquet(outDir).count() === 2L)
  }

  test("checkpoint restart: replayed epoch re-encodes exactly-once; fresh epoch lands once") {
    val dir = java.nio.file.Files.createTempDirectory("ann-restart")
    val (srcDir, indexDir, outDir, ckDir) =
      (s"$dir/src", s"$dir/index", s"$dir/out", s"$dir/ck")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    def writeBatch(name: String, rows: Seq[(Long, Seq[Double])]): Unit = {
      val json = rows.map { case (id, v) =>
        s"""{"vec_id":$id,"embedding":[${v.mkString(",")}]}""" }.mkString("\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$srcDir/$name"),
        json.getBytes("UTF-8"))
    }
    val schema = new org.apache.spark.sql.types.StructType()
      .add("vec_id", "long").add("embedding", "array<double>")
    def startQuery(ck: String) = StreamingAnnIndex.start(
      spark.readStream.schema(schema).json(srcDir),
      "embedding", "vec_id", model, indexDir, outDir, ck)
    writeBatch("b1.json", Seq(1L -> Seq(0.9, 0.1, 0.0, 0.0),
      2L -> Seq(0.1, 0.9, 0.0, 0.0)))
    val q1 = startQuery(ckDir)
    try q1.processAllAvailable() finally q1.stop()
    assert(rowsOf(indexDir).map(_._2) === Seq(1L, 2L))
    // clone the checkpoint minus the newest commit marker — the
    // "crashed before checkpoint commit" window — and restart with a
    // fresh epoch pending
    import scala.jdk.CollectionConverters._
    val ck2 = s"$dir/ck2"
    val srcRoot = java.nio.file.Paths.get(ckDir)
    java.nio.file.Files.walk(srcRoot).iterator().asScala.toSeq.foreach { p =>
      val dst = java.nio.file.Paths.get(ck2).resolve(srcRoot.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst)
    }
    val commits = java.nio.file.Paths.get(s"$ck2/commits")
    val newest = java.nio.file.Files.list(commits).iterator().asScala
      .filter(_.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    java.nio.file.Files.delete(newest)
    java.nio.file.Files.deleteIfExists(
      newest.resolveSibling(s".${newest.getFileName}.crc"))
    writeBatch("b2.json", Seq(10L -> Seq(0.8, 0.2, 0.0, 0.0)))
    val q2 = startQuery(ck2)
    try q2.processAllAvailable() finally q2.stop()
    // epoch 1 replays (vectors 1, 2 re-encode onto themselves), the
    // fresh vector lands exactly once
    assert(rowsOf(indexDir).map(_._2) === Seq(1L, 2L, 10L))
    assert(spark.read.parquet(outDir).collect()
      .map(_.getAs[Long]("vec_id")).sorted.toSeq === Seq(1L, 2L, 10L))
  }

  test("compaction folds epochs, keeps cluster sub-partitioning, refuses half commits") {
    val (indexDir, outDir, _) = freshDirs()
    StreamingAnnIndex.processBatch(
      vecs(1L -> Seq(0.9, 0.1, 0.0, 0.0)), 0L, "embedding", "vec_id",
      model, indexDir, outDir)
    StreamingAnnIndex.processBatch(
      vecs(2L -> Seq(0.1, 0.9, 0.0, 0.0)), 1L, "embedding", "vec_id",
      model, indexDir, outDir)
    val before = rowsOf(indexDir)
    val (nOut, nIdx) = StreamingAnnIndex.compact(spark, outDir, indexDir,
      targetFiles = 1)
    assert((nOut, nIdx) === ((2L, 2L)))
    assert(rowsOf(indexDir) === before, "compaction must not change rows")
    // the folded index keeps cluster=... directories under batch_id=-1
    // so probe pruning survives compaction
    val folded = new java.io.File(s"$indexDir/batch_id=-1")
    assert(folded.isDirectory &&
      folded.listFiles().exists(_.getName.startsWith("cluster=")),
      s"cluster sub-dirs lost: ${folded.listFiles().map(_.getName).toSeq}")
    // precondition: a corpus batch with no index partition blocks
    // compaction (the half-commit window must replay first)
    StreamingAnnIndex.processBatch(
      vecs(3L -> Seq(0.9, 0.0, 0.1, 0.0)), 2L, "embedding", "vec_id",
      model, indexDir, outDir)
    def deleteRec(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    deleteRec(java.nio.file.Paths.get(s"$indexDir/batch_id=2"))
    val e = intercept[IllegalArgumentException] {
      StreamingAnnIndex.compact(spark, outDir, indexDir, targetFiles = 1)
    }
    assert(e.getMessage.contains("no index partition"), e.getMessage)
  }

  test("deleteVectors: rewritten partitions keep cluster sub-dirs; serving equals a survivors-only index") {
    val s = spark
    import s.implicits._
    val (indexDir, outDir, _) = freshDirs()
    StreamingAnnIndex.processBatch(
      vecs(1L -> Seq(0.9, 0.1, 0.0, 0.0), 2L -> Seq(0.1, 0.9, 0.0, 0.0),
        3L -> Seq(0.8, 0.2, 0.0, 0.0)), 0L, "embedding", "vec_id",
      model, indexDir, outDir)
    val (nOut, nIdx) = StreamingAnnIndex.deleteVectors(spark, outDir,
      indexDir, Seq(3L).toDF("vec_id"))
    assert((nOut, nIdx) === ((2L, 2L)))
    assert(rowsOf(indexDir).map(_._2) === Seq(1L, 2L))
    // the rewritten batch partition keeps its cluster= sub-dirs, so
    // probe pruning survives deletion
    val b0 = new java.io.File(s"$indexDir/batch_id=0")
    assert(b0.isDirectory &&
      b0.listFiles().exists(_.getName.startsWith("cluster=")),
      s"cluster sub-dirs lost: ${b0.listFiles().map(_.getName).toSeq}")
    // serving over the post-delete index never returns the deleted id
    val q = vecs(100L -> Seq(0.9, 0.05, 0.0, 0.0))
    val got = StreamingAnnIndex.topKFromIndex(q, indexDir, "embedding",
      "vec_id", k = 5, nprobe = 2, model)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 2L))
  }

  test("reindex from the grown corpus ≡ fresh build; stream resumes on the new layout") {
    val emb = Demo.table(spark, sf(), "embeddings")
    val m0 = AnnModel(8, 16,
      EmbeddingOps.ivfCentroids(emb, "embedding", "vec_id", 8),
      ProductQuantization.demoCodebook(emb, "embedding", "vec_id",
        m = 8, ksub = 16))
    val d = java.nio.file.Files.createTempDirectory("annreidx").toString
    // grow only epochs 0-1 (a corpus still arriving) — range epochs so
    // the retrain's seed vectors (vec_id < ksub) are all present
    (0 until 2).foreach(b => StreamingAnnIndex.processBatch(
      emb.filter(col("vec_id") >= b * 200 && col("vec_id") < (b + 1) * 200),
      b.toLong, "embedding", "vec_id", m0, s"$d/grown", s"$d/out"))
    // retrain on the grown corpus, rebuild into a fresh dir
    val grown = spark.read.parquet(s"$d/out")
    val m1 = AnnModel(8, 16,
      EmbeddingOps.ivfCentroids(grown, "embedding", "vec_id", 8),
      ProductQuantization.demoCodebook(grown, "embedding", "vec_id",
        m = 8, ksub = 16))
    val n = StreamingAnnIndex.reindex(spark, s"$d/out", "embedding",
      "vec_id", m1, s"$d/new")
    assert(n == grown.count())
    // ≡ a fresh build over the same vectors under the same model
    ProductQuantization.writeIvfPqIndex(
      emb.filter(col("vec_id") < 400), "embedding", "vec_id", 8,
      s"$d/fresh", m1.cb, m1.m, m1.ksub, Some(m1.cents))
    assert(rowsOf(s"$d/new") === rowsOf(s"$d/fresh"))
    // the stream RESUMES on the new layout under the new model: epoch 2
    // appends and serving sees everything
    StreamingAnnIndex.processBatch(
      emb.filter(col("vec_id") >= 400), 2L, "embedding", "vec_id",
      m1, s"$d/new", s"$d/out")
    assert(spark.read.parquet(s"$d/new").count() == emb.count())
    // drift of the rebuilt index vs its own training balance is zero
    StreamingAnnIndex.writeModel(spark, grown, "embedding", "vec_id",
      m1, s"$d/model")
    val drift = StreamingAnnIndex.stalenessReport(spark, s"$d/new",
      s"$d/model").agg(max(abs(col("drift")))).collect()(0).getDouble(0)
    // epoch 2 arrived after the balance snapshot — drift is small but
    // nonzero; rebuild-time (epochs 0-1 only) it is exactly zero
    val drift01 = {
      val d2 = java.nio.file.Files.createTempDirectory("annreidx2").toString
      StreamingAnnIndex.reindex(spark, s"$d/out", "embedding", "vec_id",
        m1, s"$d2/idx") // corpus now has all 3 epochs
      StreamingAnnIndex.writeModel(spark, spark.read.parquet(s"$d/out"),
        "embedding", "vec_id", m1, s"$d2/model")
      StreamingAnnIndex.stalenessReport(spark, s"$d2/idx", s"$d2/model")
        .agg(max(abs(col("drift")))).collect()(0).getDouble(0)
    }
    assert(drift01 == 0.0)
    assert(drift >= 0.0) // gauge readable either way
  }

  test("publish/current: atomic pointer swap, crash windows leave old or new, never partial") {
    val root = java.nio.file.Files.createTempDirectory("annroot").toString
    StreamingAnnIndex.publish(spark, root, "/idx/v1", "/model/v1")
    assert(StreamingAnnIndex.current(spark, root) == ("/idx/v1", "/model/v1"))
    // swap
    StreamingAnnIndex.publish(spark, root, "/idx/v2", "/model/v2")
    assert(StreamingAnnIndex.current(spark, root) == ("/idx/v2", "/model/v2"))
    // no tmp orphan after a successful publish
    assert(!new java.io.File(s"$root/CURRENT.tmp").exists())
    // crash BEFORE the rename: an orphan tmp must not affect resolution
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/CURRENT.tmp"),
      "/idx/v3\n/model/v3\n".getBytes("UTF-8"))
    assert(StreamingAnnIndex.current(spark, root) == ("/idx/v2", "/model/v2"))
    // and the next publish overwrites the orphan
    StreamingAnnIndex.publish(spark, root, "/idx/v4", "/model/v4")
    assert(StreamingAnnIndex.current(spark, root) == ("/idx/v4", "/model/v4"))
    assert(!new java.io.File(s"$root/CURRENT.tmp").exists())
  }

  test("current: a torn, appended or emptied CURRENT pointer fails loudly (ANN and SCD2)") {
    // written around Hadoop (no .crc), as a torn or foreign writer would
    val root = java.nio.file.Files.createTempDirectory("annbadptr").toString
    val corrupt = Seq("", "/idx/v1\n", "/idx/v1\n/mod", "/idx/v1\n/model/v1\n/x\n",
      "\n/model/v1\n", "/idx/v1\n\n")
    corrupt.foreach { body =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/CURRENT"),
        body.getBytes("UTF-8"))
      Seq[() => Any](() => StreamingAnnIndex.current(spark, root),
        () => graft.streaming.StreamingScd2.current(spark, root)).foreach { read =>
        val e = intercept[IllegalArgumentException](read())
        assert(e.getMessage.contains("malformed CURRENT pointer"), body)
      }
    }
  }

  test("model round-trips exactly; staleness report hand-checked") {
    val (indexDir, outDir, modelDir) = freshDirs()
    val train = vecs(
      1L -> Seq(0.9, 0.1, 0.0, 0.0), 2L -> Seq(0.8, 0.2, 0.0, 0.0),
      3L -> Seq(0.7, 0.3, 0.0, 0.0), 4L -> Seq(0.1, 0.9, 0.0, 0.0))
    StreamingAnnIndex.writeModel(spark, train, "embedding", "vec_id",
      model, modelDir)
    val loaded = StreamingAnnIndex.loadModel(spark, modelDir)
    assert(loaded.m === model.m && loaded.ksub === model.ksub)
    assert(loaded.cb.toSeq === model.cb.toSeq)
    assert(loaded.cents.map(c => (c._1, c._2.toSeq, c._3)).toSeq ===
      model.cents.map(c => (c._1, c._2.toSeq, c._3)).toSeq)
    // current corpus: only cell-0 vectors arrived — cell 0 overweight,
    // cell 1 starved; train balance was 3:1
    StreamingAnnIndex.processBatch(
      vecs(10L -> Seq(0.9, 0.1, 0.0, 0.0), 11L -> Seq(0.8, 0.1, 0.0, 0.0)),
      0L, "embedding", "vec_id", model, indexDir, outDir)
    val rep = StreamingAnnIndex.stalenessReport(spark, indexDir, modelDir)
      .orderBy("cluster").collect()
    assert(rep.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((0L, 3L, 2L), (1L, 1L, 0L)))
    assert(rep(0).getDouble(3) === 0.75 && rep(0).getDouble(4) === 1.0 &&
      rep(0).getDouble(5) === 0.25)
    assert(rep(1).getDouble(3) === 0.25 && rep(1).getDouble(4) === 0.0 &&
      rep(1).getDouble(5) === -0.25)
  }
}
