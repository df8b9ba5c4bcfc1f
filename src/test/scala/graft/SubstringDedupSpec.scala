package graft

import graft.dedup.SubstringDedup
import org.apache.spark.sql.functions._

class SubstringDedupSpec extends SparkSpec {

  import spark.implicits._

  private def words(prefix: String, n: Int): String =
    (0 until n).map(i => s"$prefix$i").mkString(" ")

  test("pair found iff the shared run reaches windowTokens") {
    val shared20 = words("s", 20)
    val shared19 = words("t", 19)
    val docs = Seq(
      (1L, s"${words("a", 5)} $shared20 ${words("b", 5)}"),
      (2L, s"${words("c", 3)} $shared20"),
      (3L, s"${words("d", 5)} $shared19 ${words("e", 5)}"),
      (4L, s"${words("f", 5)} $shared19 ${words("g", 5)}")
    ).toDF("doc_id", "text")
    val pairs = SubstringDedup.windowPairs(docs, "text", "doc_id",
      windowTokens = 20).collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getLong(0) == 1L && p.getLong(1) == 2L)
    // doc 1's run starts after its 5-word preamble
    assert(p.getLong(3) == 5L)
    assert(p.getLong(2) == 1L)
  }

  test("a longer shared run yields one pair with multiple shared windows") {
    val run = words("r", 22) // 3 distinct 20-token windows
    val docs = Seq((1L, run), (2L, s"${words("x", 2)} $run")).toDF("doc_id", "text")
    val p = SubstringDedup.windowPairs(docs, "text", "doc_id",
      windowTokens = 20).collect().head
    assert(p.getLong(2) == 3L)
    assert(p.getLong(3) == 0L)
  }

  test("boilerplate windows beyond the df cap never pair") {
    val banner = words("cookie", 20)
    val docs = (1L to 6L).map(i =>
      (i, s"${words(s"u$i", 4)} $banner")).toDF("doc_id", "text")
    val capped = SubstringDedup.windowPairs(docs, "text", "doc_id",
      windowTokens = 20, maxPostings = 3)
    assert(capped.count() == 0)
    val uncapped = SubstringDedup.windowPairs(docs, "text", "doc_id",
      windowTokens = 20, maxPostings = 10)
    assert(uncapped.count() == 15) // all C(6,2) pairs share the banner
  }

  test("kernel windows match the compositional slice+concat formulation on real docs") {
    import graft.text.TextAnalysis
    val docs = Demo.table(spark, sf("sf0.001"), "documents")
    val k = docs.select(col("doc_id"), posexplode(
      graft.functions.GraftFunctions.token_windows(col("text"), 20, 1))
      .as(Seq("pos", "win")))
    val toks = TextAnalysis.tokens(col("text"))
    val e = docs.select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 20)
      .select(col("doc_id"), explode(
        transform(sequence(lit(0), size(col("toks")) - 20),
          i => struct(i.as("pos"),
            concat_ws(" ", slice(col("toks"), i + 1, lit(20))).as("win"))))
        .as("pw"))
      .select(col("doc_id"), col("pw.pos").as("pos"), col("pw.win").as("win"))
    assert(k.exceptAll(e).count() == 0 && e.exceptAll(k).count() == 0)
    assert(k.count() > 0)
  }

  private def exciseMap(docs: org.apache.spark.sql.DataFrame,
      w: Int = 20, cap: Long = 1000): Map[Long, (Long, String)] =
    SubstringDedup.excise(docs, "text", "doc_id", windowTokens = w,
      maxPostings = cap)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap

  test("excise: later copy loses the run, owner keeps it, mid-doc cut splices") {
    val run = words("s", 20)
    val pre = words("a", 3); val post = words("b", 4)
    val docs = Seq(
      (1L, s"${words("o", 2)} $run"),      // owner (lowest id)
      (2L, s"$pre $run $post"),            // run mid-document
      (3L, words("z", 10))                 // untouched
    ).toDF("doc_id", "text")
    val m = exciseMap(docs)
    assert(m(1L) === ((0L, s"${words("o", 2)} $run")))
    assert(m(2L) === ((20L, s"$pre $post")))
    assert(m(3L) === ((0L, words("z", 10))))
  }

  test("excise: run at document start and at document end") {
    val run = words("r", 20)
    val docs = Seq(
      (1L, run),
      (2L, s"$run ${words("tail", 5)}"),   // run at start
      (3L, s"${words("head", 5)} $run")    // run at end
    ).toDF("doc_id", "text")
    val m = exciseMap(docs)
    assert(m(1L) === ((0L, run)))
    assert(m(2L) === ((20L, words("tail", 5))))
    assert(m(3L) === ((20L, words("head", 5))))
  }

  test("excise: whole-document duplicate excises to empty; row survives") {
    val run = words("w", 24)
    val docs = Seq((1L, run), (2L, run)).toDF("doc_id", "text")
    val m = exciseMap(docs)
    assert(m(1L) === ((0L, run)))
    assert(m(2L) === ((24L, "")))
  }

  test("excise: overlapping shared runs union at token grain") {
    // doc 3 shares tokens 0..21 with doc 1 and tokens 2..23 with doc 2:
    // overlapping covered spans must union (24 tokens removed), not
    // double-count or leave a gap
    val t = (0 until 24).map(i => s"v$i")
    val docs = Seq(
      (1L, t.slice(0, 22).mkString(" ")),
      (2L, t.slice(2, 24).mkString(" ")),
      (3L, t.mkString(" "))
    ).toDF("doc_id", "text")
    val m = exciseMap(docs)
    assert(m(1L)._1 === 0L)
    // doc 2's FIRST window (v2..v21) also occurs in doc 1, which owns
    // it (lower id): doc 2 loses tokens 0..19, keeping its last two
    assert(m(2L) === ((20L, "v22 v23")))
    // doc 3: doc 1 covers tokens 0..21, doc 2's windows cover 3..23 —
    // the union is the whole document, with the overlap counted once
    assert(m(3L) === ((24L, "")))
  }

  test("excise: boilerplate past the df cap is not cut") {
    val banner = words("cookie", 20)
    val docs = (1L to 6L).map(i =>
      (i, s"${words(s"u$i", 3)} $banner")).toDF("doc_id", "text")
    val capped = exciseMap(docs, cap = 3)
    assert(capped.values.forall(_._1 == 0L), "capped windows must not excise")
    val uncapped = exciseMap(docs, cap = 10)
    assert(uncapped(1L)._1 === 0L)
    (2L to 6L).foreach(i => assert(uncapped(i) === ((20L, words(s"u$i", 3)))))
  }

  test("within-document repetition does not evict a window from pairing") {
    val run = words("v", 20)
    val docs = Seq(
      (1L, s"$run $run $run"), // repeated within ONE doc
      (2L, run)
    ).toDF("doc_id", "text")
    // df counts distinct docs (2), not positions, so cap 2 keeps the pair
    val pairs = SubstringDedup.windowPairs(docs, "text", "doc_id",
      windowTokens = 20, maxPostings = 2).collect()
    assert(pairs.exists(p => p.getLong(0) == 1L && p.getLong(1) == 2L))
  }
}
