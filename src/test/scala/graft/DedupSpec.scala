package graft

import graft.dedup.TextDedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Demo.table(spark, sf(), "documents")

  test("exactGroups: identical texts collapse to one keeper") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val g = TextDedup.exactGroups(df, "text", "doc_id")
      .orderBy("keeper_id").collect()
    assert(g.length == 2)
    assert(g(0).getAs[Long]("n_copies") == 2 && g(0).getAs[Long]("keeper_id") == 1L)
  }

  test("softDedupWeights: every copy kept, weight 1/n, uniques at 1.0; weights sum to distinct count") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "a b c"),
      (4L, "x y z"), (5L, "p q r"), (6L, "p q r"))
      .toDF("doc_id", "text")
    val w = TextDedup.softDedupWeights(df, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(w === Array(
      (1L, 3L, 0.333333), (2L, 3L, 0.333333), (3L, 3L, 0.333333),
      (4L, 1L, 1.0), (5L, 2L, 0.5), (6L, 2L, 0.5)))
    // the defining invariant (up to rounding): total sampling mass
    // equals the number of distinct texts — soft dedup neither inflates
    // nor deletes content mass
    assert(math.abs(w.map(_._3).sum - 3.0) < 1e-4)
  }

  test("soft-dedup partials: additive across batches, replay-idempotent, equal the batch recompute") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "a b c"),
      (4L, "x y z"), (5L, "p q r"), (6L, "p q r"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("softw-inc").toString + "/p"
    def commit(b: Long): Unit =
      TextDedup.softDedupPartial(df.filter(col("doc_id") % 2 === b), "text")
        .withColumn("batch_id", lit(b))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(dir)
    commit(0L); commit(1L)
    def served = TextDedup.softDedupWeightsFromPartials(df, "text",
      "doc_id", spark.read.parquet(dir))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val batch = TextDedup.softDedupWeights(df, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(served === batch)
    // a replayed epoch overwrites its own partition — counts unchanged
    commit(1L)
    assert(served === batch)
  }

  test("soft-dedup tombstone delete: post-delete weights ≡ batch recompute over survivors") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "a b c"),
      (4L, "x y z"), (5L, "p q r"), (6L, "p q r"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("softw-del").toString + "/p"
    def write(partial: org.apache.spark.sql.DataFrame, b: Long): Unit =
      partial.withColumn("batch_id", lit(b))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(dir)
    write(TextDedup.softDedupPartial(df.filter(col("doc_id") <= 3), "text"), 0L)
    write(TextDedup.softDedupPartial(df.filter(col("doc_id") > 3), "text"), 1L)
    // delete doc 3 (one of three "a b c" copies) and doc 4 (the ONLY
    // "x y z" — its digest's counts sum to zero and must drop out)
    val deleted = df.filter(col("doc_id") === 3 || col("doc_id") === 4)
    write(TextDedup.softDedupDeletePartial(deleted, "text"), 2L)
    val survivors = df.filter(col("doc_id") =!= 3 && col("doc_id") =!= 4)
    def weights(x: org.apache.spark.sql.DataFrame) =
      x.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val served = weights(TextDedup.softDedupWeightsFromPartials(
      survivors, "text", "doc_id", spark.read.parquet(dir)))
    val batch = weights(TextDedup.softDedupWeights(survivors, "text", "doc_id"))
    assert(served === batch)
    // counts SHRANK: the "a b c" group now weighs 1/2 per copy
    assert(served.filter(_._2 == 2L).map(_._1).toSet == Set(1L, 2L, 5L, 6L))
    // the tombstone epoch is replay-idempotent too
    write(TextDedup.softDedupDeletePartial(deleted, "text"), 2L)
    assert(weights(TextDedup.softDedupWeightsFromPartials(
      survivors, "text", "doc_id", spark.read.parquet(dir))) === batch)
    // no digest with non-positive total survives the serve-time merge
    val merged = spark.read.parquet(dir)
      .groupBy("text_hash").agg(sum(col("n")).as("t")).collect()
    assert(merged.exists(_.getLong(1) == 0L)) // the fully-deleted digest
  }

  test("ngram pairs: near-identical docs found, dissimilar not") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different text with other words entirely"))
      .toDF("doc_id", "text")
    val p = TextDedup.ngramJaccardPairs(df, "text", "doc_id", threshold = 0.5)
      .collect()
    assert(p.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("ngram pairs: df cap prunes stop-shingle candidates, keeps true pairs") {
    // 30 docs all sharing one boilerplate 3-gram ("shared header line"),
    // otherwise unique; docs 1 and 2 are near-identical. With a low
    // threshold a boilerplate-only pair WOULD pass verification if it
    // ever became a candidate — so its absence proves the candidate was
    // pruned by the df cap, not by the score filter.
    val docs = (1L to 30L).map { i =>
      val uniq = if (i == 2L) "unique body 1 alpha7 gamma" // near-dup of doc 1
        else s"unique body $i alpha${i * 7} beta${i * 13}"
      (i, s"shared header line $uniq")
    }.toDF("doc_id", "text")
    val capped = TextDedup.ngramJaccardPairs(docs, "text", "doc_id",
        threshold = 0.01, maxDfFrac = 0.0, maxDfFloor = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = TextDedup.ngramJaccardPairs(docs, "text", "doc_id",
        threshold = 0.01, maxDfFrac = 1.0, maxDfFloor = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // uncapped: every pair shares the hot shingles → quadratic candidates
    assert(uncapped.size == 30 * 29 / 2)
    // capped: only the genuinely near-identical pair survives, and its
    // reported jaccard is still computed on the FULL shingle sets
    assert(capped == Set((1L, 2L)))
    val j = TextDedup.ngramJaccardPairs(docs, "text", "doc_id",
        threshold = 0.01, maxDfFrac = 0.0, maxDfFloor = 5L)
      .filter(col("doc_a") === 1L).select("jaccard").head().getDouble(0)
    val jFull = TextDedup.ngramJaccardPairs(docs, "text", "doc_id",
        threshold = 0.01, maxDfFrac = 1.0, maxDfFloor = 1000L)
      .filter(col("doc_a") === 1L && col("doc_b") === 2L)
      .select("jaccard").head().getDouble(0)
    assert(j == jFull)
  }

  test("lsh cosine pairs: bucket cap prunes degenerate cells") {
    // 40 identical vectors pile into the same cell of every table; two
    // distinct near-dup vectors sit elsewhere. A small cap drops the
    // degenerate cell but keeps the normal pair.
    val dim = 8
    val hot = Seq.fill(dim)(1.0f)
    val a = Array.tabulate(dim)(i => if (i % 2 == 0) 1.0f else -1.0f).toSeq
    val b = a.updated(7, -0.9f)
    val rows = (1L to 40L).map(i => (i, hot)) ++ Seq((100L, a), (101L, b))
    val df = rows.toDF("vec_id", "embedding")
    val capped = graft.embeddings.EmbeddingOps.lshCosinePairs(
        df, "embedding", "vec_id", threshold = 0.9, dim = dim, maxBucket = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((100L, 101L)))
    val uncapped = graft.embeddings.EmbeddingOps.lshCosinePairs(
        df, "embedding", "vec_id", threshold = 0.9, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 40 * 39 / 2 + 1)
  }

  test("decontaminate: embedded benchmark text flagged, clean docs kept") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // contains the full benchmark text verbatim → containment 1.0
      (1L, "intro words alpha beta gamma delta epsilon zeta trailing tail"),
      // shares a couple of benchmark tokens but not its shingles
      (2L, "alpha omega chi psi completely different words here"),
      (3L, "nothing in common with anything benchmark related at all"))
      .toDF("doc_id", "text")
    val pairs = TextDedup.contaminationPairs(corpus, bench, "text", "doc_id")
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 100L)))
    assert(pairs.head.getAs[Double]("containment") == 1.0)
    val kept = TextDedup.decontaminate(corpus, bench, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
  }

  test("bloom-prefiltered decontamination matches the equi-join path exactly") {
    // planted case: same fixtures as the equi-join test above
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "intro words alpha beta gamma delta epsilon zeta trailing tail"),
      (2L, "alpha omega chi psi completely different words here"),
      (3L, "nothing in common with anything benchmark related at all"))
      .toDF("doc_id", "text")
    val name = TextDedup.registerBenchBloom(spark, bench, "text",
      name = "spec-decon-bloom")
    val pairs = TextDedup.contaminationPairsBloom(corpus, bench, "text",
      "doc_id", bloomName = name).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 100L)))
    assert(TextDedup.decontaminateBloom(corpus, bench, "text", "doc_id", name)
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L, 3L))

    // sketch/query parameter mismatch must FAIL FAST, not silently
    // return no pairs (a Bloom miss is a drop, not an error)
    val n4 = TextDedup.registerBenchBloom(spark, bench, "text", n = 4,
      name = "spec-decon-bloom-n4")
    val e = intercept[IllegalArgumentException] {
      TextDedup.contaminationPairsBloom(corpus, bench, "text", "doc_id",
        bloomName = n4) // queried at the default n = 3
    }
    assert(e.getMessage.contains("shingle-n"))
    intercept[IllegalArgumentException] {
      TextDedup.contaminationPairsBloom(corpus, bench, "text", "doc_id",
        bloomName = "never-registered")
    }

    // full testdata parity: pair-for-pair, containment included
    val bench2 = docs.filter(col("doc_id") % 10 === 3)
    val name2 = TextDedup.registerBenchBloom(spark, bench2, "text",
      name = "spec-decon-bloom-td")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(key(TextDedup.contaminationPairsBloom(docs, bench2, "text",
      "doc_id", name2)) ==
      key(TextDedup.contaminationPairs(docs, bench2, "text", "doc_id")))
  }

  test("minhash LSH recall equals exact jaccard pairs on testdata") {
    val exact = TextDedup.ngramJaccardPairs(docs, "text", "doc_id")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextDedup.minhashLshPairs(docs, "text", "doc_id")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"LSH missed ${exact.diff(lsh)} found extra ${lsh.diff(exact)}")
  }

  test("incremental dedup: exact and near corpus dups drop, novel and batch-internal dups survive") {
    val s = spark
    import s.implicits._
    val phrase = (1 to 30).map(i => s"tok$i").mkString(" ")
    val nearPhrase = (1 to 30).map(i => if (i == 30) "CHANGED" else s"tok$i")
      .mkString(" ")
    val corpus = Seq(
      (1L, phrase),
      (2L, "completely different corpus content here with many words"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, phrase), // exact dup of corpus 1
      (11L, nearPhrase), // near dup of corpus 1 (jaccard >> 0.8)
      (12L, "an entirely novel document about unrelated topics entirely"),
      (13L, "an entirely novel document about unrelated topics entirely"))
      .toDF("doc_id", "text") // 12/13: batch-internal dups — both survive
    val out = TextDedup.dedupAgainstCorpus(batch, corpus, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(12L, 13L))
  }

  test("connected components: chain, clique, isolated node") {
    val nodes = (1L to 7L).toDF("id")
    // chain 1-2-3, clique 4-5-6 (all pairs), isolated 7
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 5L), (5L, 6L), (4L, 6L))
      .toDF("a", "b")
    val labels = graft.dedup.ConnectedComponents
      .label(nodes, edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 7L))
  }

  test("connected components: both paths equal union-find (seeded)") {
    val rnd = new scala.util.Random(1234)
    val random = (1 to 5).map { _ =>
      val n = 30 + rnd.nextInt(120)
      val nEdges = rnd.nextInt(2 * n)
      n -> Seq.fill(nEdges)(
        (rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
    }
    val edgeCases = Seq(
      "empty edge set" -> (10 -> Seq.empty[(Long, Long)]),
      "self-loops only" -> (8 -> Seq((1L, 1L), (3L, 3L), (8L, 8L))),
      "duplicate and reversed edges" -> (9 -> Seq((1L, 2L), (2L, 1L),
        (1L, 2L), (4L, 3L), (3L, 4L), (3L, 3L), (5L, 4L), (4L, 5L))),
      "isolated nodes" -> (40 -> Seq((7L, 3L), (3L, 5L), (20L, 21L))))
    val trials = random.zipWithIndex.map { case (g, i) => s"random trial ${i + 1}" -> g } ++
      edgeCases
    for ((name, (n, edges)) <- trials) {
      // reference: plain union-find with min-id roots
      val parent = Array.tabulate(n + 1)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) { val lo = math.min(ra, rb)
          parent(math.max(ra, rb)) = lo }
      }
      val want = (1 to n).map(i => i.toLong -> find(i).toLong).toMap
      def run(localEdges: Long) = graft.dedup.ConnectedComponents.label(
        (1L to n.toLong).toDF("id"), edges.toDF("a", "b"), "a", "b",
        20, localEdges)
      // the default cut-off finishes on the driver; 0 forces the loop
      val local = run(graft.dedup.ConnectedComponents.LocalEdges)
      val loop = run(0L)
      def labels(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels(local) === want, s"$name, driver finish (n=$n, edges=${edges.size})")
      assert(labels(loop) === want, s"$name, distributed loop (n=$n, edges=${edges.size})")
      assert(local.schema === loop.schema, name)
    }
  }

  test("connected components: unconverged labels are upper bounds") {
    // two interleaved 64-node paths (odd ids, even ids), each chained in
    // id order, so one round cannot reach either fixpoint
    val path = (1L to 128L).toSeq
    val edges = path.filter(_ > 2).map(x => (x, x - 2))
    val nodes = path.toDF("id")
    def check(got: Seq[(Long, Long)]): Unit = {
      assert(got.map(_._1).sorted === path, "every node exactly once")
      got.foreach { case (node, comp) =>
        assert(comp <= node, s"label $comp of $node is not an upper bound")
        assert(comp % 2 === node % 2, s"label $comp of $node leaves its component")
      }
      assert(got.map(_._2).distinct.size > 2, "one round converged; the spec shows nothing")
    }
    check(graft.dedup.ConnectedComponents.label(nodes, edges.toDF("a", "b"),
        "a", "b", 1, 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq)
    // string ids never take the driver finish: under the default
    // cut-off they stay on the loop and keep its truncation contract
    val key = (x: Long) => f"n$x%04d"
    val strLabels = graft.dedup.ConnectedComponents.label(
        path.map(key).toDF("id"),
        edges.map { case (a, b) => (key(a), key(b)) }.toDF("a", "b"),
        "a", "b", maxIter = 1)
    assert(strLabels.schema.map(_.dataType).distinct ===
      Seq(org.apache.spark.sql.types.StringType))
    check(strLabels.collect()
      .map(r => r.getString(0).tail.toLong -> r.getString(1).tail.toLong).toSeq)
  }

  test("wide-key simhash banding equals chunk banding at every maxDist") {
    for (d <- 0 to 3) {
      val chunked = TextDedup.simhashPairsChunked(docs, "text", "doc_id", maxDist = d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val wide = TextDedup.simhashPairsWide(docs, "text", "doc_id", maxDist = d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(wide === chunked, s"maxDist=$d")
    }
  }

  test("hammingEdgesWide: identical components to the pair frame, linear edge count") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    // adversarially dup-dense: one 40-doc identical-fingerprint clique
    // (the pair frame's quadratic case), a 3-doc group one bit away
    // (bridged), a far group, singletons
    val clique = (0L until 40L).map(i => (i, 0xABCD1234L))
    val near = Seq((100L, 0xABCD1235L), (101L, 0xABCD1235L), (102L, 0xABCD1235L))
    val far = Seq((200L, 0x7F00FF00FF00L), (201L, 0x7F00FF00FF00L))
    val solo = Seq((300L, 0x123456789AL), (301L, 0x40000000000L))
    val fps = (clique ++ near ++ far ++ solo).toDF("doc_id", "fp")
    val nodes = fps.select(col("doc_id")).distinct()
    def components(edges: org.apache.spark.sql.DataFrame) =
      graft.dedup.ConnectedComponents.label(nodes, edges, "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (d <- 0 to 3) {
      val pairs = TextDedup.hammingPairsWide(fps, "doc_id", "fp", d, chunkBits = 16)
      val edges = TextDedup.hammingEdgesWide(fps, "doc_id", "fp", d, chunkBits = 16)
      assert(components(edges.select("doc_a", "doc_b")) ===
        components(pairs.select("doc_a", "doc_b")), s"maxDist=$d")
    }
    // row-count shape at maxDist=1: pair frame is quadratic in the
    // clique (40·39/2 within-group pairs + 40·3 cross + 3 within near
    // + 1 within far), the edge frame is (docs−distinct fps) + bridges
    val pairCnt = TextDedup.hammingPairsWide(fps, "doc_id", "fp", 1, 16).count()
    val edgeCnt = TextDedup.hammingEdgesWide(fps, "doc_id", "fp", 1, 16).count()
    assert(pairCnt == 40L * 39 / 2 + 40 * 3 + 3 + 1, s"pairs=$pairCnt")
    // 47 docs, 5 distinct fps → 42 stars; one qualifying fp pair → 1 bridge
    assert(edgeCnt == 42 + 1, s"edges=$edgeCnt")
    // doc_a < doc_b on every edge (CC contract)
    val bad = TextDedup.hammingEdgesWide(fps, "doc_id", "fp", 1, 16)
      .filter(col("doc_a") >= col("doc_b")).count()
    assert(bad == 0)
  }

  test("minhashLshEdges: identical components to the pair frame; shingle-less groups stay separate") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val longA = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar"
    val nearA = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november zulu"
    val longB = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen"
    // a 20-doc identical-text clique (the quadratic case), one near-dup
    // of it, a second group, and an identical-SHORT-text pair that
    // produces no shingles (n=3 needs >= 3 tokens) — the pair
    // formulation never pairs those, so the edge formulation must not
    // star-connect them either
    val corpus = ((0L until 20L).map(i => (i, longA)) :+
      (100L, nearA) :+ (200L, longB) :+ (201L, longB) :+
      (300L, "hi") :+ (301L, "hi")).toDF("doc_id", "text")
    val nodes = corpus.select(col("doc_id"))
    def comp(edges: org.apache.spark.sql.DataFrame) =
      graft.dedup.ConnectedComponents.label(nodes, edges, "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaPairs = comp(TextDedup.minhashLshPairs(corpus, "text", "doc_id")
      .select("doc_a", "doc_b"))
    val viaEdges = comp(TextDedup.minhashLshEdges(corpus, "text", "doc_id"))
    assert(viaEdges === viaPairs)
    // short identical texts are singletons in BOTH formulations
    assert(viaEdges(300L) === 300L && viaEdges(301L) === 301L)
    // edge count is linear: 19 stars (clique) + 1 star (group B) +
    // 1 bridge (nearA-clique); pair frame is quadratic (190 clique
    // pairs + 20 near-dup pairs + 1)
    val edgeCnt = TextDedup.minhashLshEdges(corpus, "text", "doc_id").count()
    assert(edgeCnt === 21, s"edges=$edgeCnt")
    val pairCnt = TextDedup.minhashLshPairs(corpus, "text", "doc_id").count()
    assert(pairCnt === 211, s"pairs=$pairCnt")
  }

  test("setJaccardEdges: identical components to setJaccardPairs; empty sets stay separate") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    // 15-doc identical-set clique, a near-dup set (9/10 shared), a
    // disjoint group, and two empty-set docs (never paired)
    val full = (1L to 10L).toArray
    val near = (2L to 10L).toArray :+ 99L
    val other = (100L to 109L).toArray
    val rows = (0L until 15L).map(i => (i, full)) ++
      Seq((20L, near), (30L, other), (31L, other),
        (40L, Array.empty[Long]), (41L, Array.empty[Long]))
    val sets = rows.toDF("doc_id", "hs")
    val nodes = sets.select(col("doc_id"))
    def comp(edges: org.apache.spark.sql.DataFrame) =
      graft.dedup.ConnectedComponents.label(nodes, edges, "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaPairs = comp(TextDedup.setJaccardPairs(sets, threshold = 0.8)
      .select("doc_a", "doc_b"))
    val viaEdges = comp(TextDedup.setJaccardEdges(sets, threshold = 0.8))
    assert(viaEdges === viaPairs)
    assert(viaEdges(40L) === 40L && viaEdges(41L) === 41L)
    // linear: 14 stars (clique) + 1 star (other) + 1 bridge (near set,
    // jaccard 9/11 ≥ 0.8); pair frame: 105 + 15 + 1 = 121
    assert(TextDedup.setJaccardEdges(sets, 0.8).count() === 16)
    assert(TextDedup.setJaccardPairs(sets, 0.8).count() === 121)
  }

  test("bandingForThreshold: recall-safe midpoint; derived banding catches a pair the fixed config misses") {
    import graft.dedup.TextDedup.bandingForThreshold
    val s = spark
    import s.implicits._
    // the default budget derives the previously hand-tuned configuration
    assert(bandingForThreshold(32, 0.8) === ((8, 4)))
    // midpoint on the recall-safe side, and no steeper divisor stays
    // under the threshold
    for ((np, t) <- Seq((32, 0.8), (16, 0.5), (64, 0.9), (32, 0.3))) {
      val (b, r) = bandingForThreshold(np, t)
      assert(b * r === np)
      assert(math.pow(1.0 / b, 1.0 / r) <= t)
      ((r + 1) to np).filter(np % _ == 0).foreach { r2 =>
        assert(math.pow(r2.toDouble / np, 1.0 / r2) > t,
          s"divisor $r2 would be closer for ($np, $t)")
      }
    }
    // planted near-threshold pair (jaccard ≈ 0.64, threshold 0.5,
    // budget 16): the derived 8×2 banding collides it in some band, the
    // fixed rows=4 banding does not — deterministic (the minhash
    // permutations are fixed, no RNG)
    val a = (0 until 20).map(i => s"tok$i").mkString(" ")
    val b = ((0 until 16).map(i => s"tok$i") ++
      (0 until 4).map(k => s"alt3_$k")).mkString(" ")
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    assert(TextDedup.minhashLshPairs(docs, "text", "doc_id",
      numPerms = 16, threshold = 0.5).count() === 1)
    assert(TextDedup.minhashLshPairs(docs, "text", "doc_id",
      numPerms = 16, bandRows = 4, threshold = 0.5).count() === 0)
  }

  test("setJaccardEdges: doc-grain df cap — components match pairs even when the cap engages") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    // The round-9 advice scenario: a dup-dense group whose shared hashes
    // exceed the DOC-grain cap. The pair formulation caps those hashes
    // away (no candidates — even exact dups are missed, by design: the
    // cap is the quadratic-fan-out guard), so the edge formulation must
    // NOT star-connect the group either. A rep-grain df (1 per distinct
    // set) would keep the hashes and diverge here.
    val dense = (1L to 10L).toArray // 20 identical docs → df 20 > cap 5
    val small = (200L to 209L).toArray // 3 identical docs → df 3 ≤ cap
    val mixed = Array(500L, 501L, 1L) // hash 1 capped, 500/501 kept
    val rows = (0L until 20L).map(i => (i, dense)) ++
      Seq((40L, small), (41L, small), (42L, small),
        (50L, (1L to 9L).toArray :+ 300L), // all-but-one capped, 300 unique
        (60L, mixed), (61L, mixed))
    val sets = rows.toDF("doc_id", "hs")
    val nodes = sets.select(col("doc_id"))
    def comp(edges: org.apache.spark.sql.DataFrame) =
      graft.dedup.ConnectedComponents.label(nodes, edges, "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaPairs = comp(TextDedup.setJaccardPairs(sets, threshold = 0.8,
      maxDfFrac = 0.01, maxDfFloor = 5L).select("doc_a", "doc_b"))
    val viaEdges = comp(TextDedup.setJaccardEdges(sets, threshold = 0.8,
      maxDfFrac = 0.01, maxDfFloor = 5L))
    assert(viaEdges === viaPairs)
    // the dense group really is fully capped: every member a singleton
    // in BOTH formulations
    (0L until 20L).foreach(i => assert(viaEdges(i) === i))
    assert(viaEdges(50L) === 50L)
    // kept groups still connect: 2 stars (small) + 1 star (mixed) = 3
    // edges vs 3 + 1 = 4 pairs
    assert(TextDedup.setJaccardEdges(sets, 0.8, 0.01, 5L).count() === 3)
    assert(TextDedup.setJaccardPairs(sets, 0.8, 0.01, 5L).count() === 4)
  }

  test("removeBoilerplateLines: corpus-frequent lines excised everywhere, order preserved") {
    val s = spark
    import s.implicits._
    val footer = "contact us today."
    val docs = Seq(
      (1L, s"unique alpha content.\n$footer\nmore alpha text."),
      (2L, s"$footer\nunique beta content."),
      (3L, s"unique gamma content.\n$footer"),
      (4L, footer), // ALL lines boilerplate → empty but present
      (5L, "entirely novel document.")
    ).toDF("doc_id", "text")
    val out = TextDedup.removeBoilerplateLines(docs, "text", "doc_id",
      minDocs = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    def md5(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // footer appears in 4 distinct docs >= minDocs → removed from all,
    // remaining lines keep their original order
    assert(out(1L) == ((md5("unique alpha content.\nmore alpha text."), 3L, 2L)))
    assert(out(2L) == ((md5("unique beta content."), 2L, 1L)))
    assert(out(3L) == ((md5("unique gamma content."), 2L, 1L)))
    assert(out(4L) == ((md5(""), 1L, 0L)))
    assert(out(5L) == ((md5("entirely novel document."), 1L, 1L)))
    // below the threshold nothing is removed (footer df = 4 < 5)
    val loose = TextDedup.removeBoilerplateLines(docs, "text", "doc_id",
      minDocs = 5).collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(loose(1L) == 3L && loose(4L) == 1L)
    // threshold guard
    intercept[IllegalArgumentException] {
      TextDedup.removeBoilerplateLines(docs, "text", "doc_id", minDocs = 1)
    }
  }

  test("hashed-shingle kernel equals the expression chain") {
    import org.apache.spark.sql.functions._
    val viaKernel = docs.select(col("doc_id"),
      graft.functions.GraftFunctions.hashed_shingles(col("text"), 3).as("hs"))
    val viaExprs = docs.select(col("doc_id"),
      array_distinct(transform(TextDedup.shingles(col("text"), 3),
        s => TextDedup.strHash(s))).as("hs"))
    val k = viaKernel.orderBy("doc_id").collect().map(_.getSeq[Long](1).toSeq)
    val e = viaExprs.orderBy("doc_id").collect().map(_.getSeq[Long](1).toSeq)
    assert(k.toSeq === e.toSeq) // same values, same order
  }

  test("incremental components ≡ batch under epoch merges and any epoch order") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val nodes = (0L until 12L).toDF("node")
    // chain 0-1-2-3, pair 4-5, triangle 6-7-8; 9..11 isolated.
    // epochs deliberately MERGE previously separate components:
    // e0 leaves {0,1} {2,3} apart, e1 bridges them via (1,2)
    val e0 = Seq((0L, 1L), (2L, 3L), (6L, 7L))
    val e1 = Seq((1L, 2L), (4L, 5L))
    val e2 = Seq((7L, 8L), (6L, 8L))
    def edges(p: Seq[(Long, Long)]) = p.toDF("doc_a", "doc_b")
    val batch = graft.dedup.ConnectedComponents.label(
      nodes, edges(e0 ++ e1 ++ e2), "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch(3L) == 0L && batch(5L) == 4L && batch(8L) == 6L &&
      batch(11L) == 11L)
    for (order <- Seq(Seq(e0, e1, e2), Seq(e2, e1, e0), Seq(e1, e0, e2))) {
      val l0 = graft.dedup.ConnectedComponents.label(
        nodes, edges(order.head), "doc_a", "doc_b")
      val folded = order.tail.foldLeft(l0)((acc, ep) =>
        graft.dedup.ConnectedComponents.labelIncremental(
          acc, nodes, edges(ep), "doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(folded == batch, s"epoch order $order")
    }
    // node GROWTH: an epoch can introduce new nodes with its edges
    val l0 = graft.dedup.ConnectedComponents.label(
      (0L until 6L).toDF("node"), edges(e0), "doc_a", "doc_b")
    val grown = graft.dedup.ConnectedComponents.labelIncremental(
      l0, (0L until 12L).toDF("node"), edges(e1 ++ e2), "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(grown == batch)
  }

  test("simhash: identical text → identical fingerprint; hamming 0 pairs found") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "omega psi chi phi")).toDF("doc_id", "text")
    val sh = TextDedup.simhash(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L) && sh(1L) != sh(3L))
    val pairs = TextDedup.simhashPairs(df, "text", "doc_id", maxDist = 0).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }
}
