package graft.dedup

import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Large-scale text deduplication operators — the training-data-pipeline
 * extension of the engine (exact, n-gram Jaccard, MinHash-LSH, SimHash).
 *
 * Everything is built from codegen'd built-in expressions over a shared
 * deterministic hash (`conv(substr(md5(x),1,15),16,10) % p`) so results
 * are reproducible across engines and runs.
 *
 * Scale design (the 100 TB story):
 *  - Signatures (minhash/simhash) are computed per-document inside one
 *    projection with higher-order array functions — no explode, no
 *    shuffle, no UDF. Cost is linear in corpus size, embarrassingly
 *    parallel across partitions.
 *  - Candidate generation shuffles only (key, doc_id) pairs: LSH band
 *    signatures for minhash, 15-bit chunks for simhash, shingles for the
 *    exact-Jaccard inverted index. The O(n²) all-pairs comparison never
 *    materializes; only same-bucket pairs are joined.
 *  - Exact dedup is one hash aggregation on a text digest (no raw-text
 *    shuffle: md5 is computed map-side, 16 bytes/row cross the wire).
 */
object TextDedup {

  /** Large prime modulus for the shared shingle/token hash. */
  val P = 1000000007L

  /** Distinct word n-gram shingles. Documents with fewer than n tokens
    * yield an empty array. */
  def shingles(c: Column, n: Int = 3): Column = {
    val toks = TextAnalysis.tokens(c)
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Deterministic 60-bit hash of a string column, reduced mod P. */
  def strHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long") % P

  // ------------------------------------------------------------ exact dedup

  /** Exact duplicate groups by content digest: one row per distinct text
    * with the group size and the smallest id as keeper
    * (hash-groupBy; only the 32-char digest shuffles). */
  def exactGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keeper_id"))

  /** SOFT dedup (Muennighoff et al. 2023, "Scaling Data-Constrained
    * Language Models"): keep every copy, DOWNWEIGHT each by its exact
    * duplicate multiplicity — when tokens are scarce, repeating data
    * beats deleting it, but duplicated content must not be oversampled,
    * so each document samples at 1/n_copies. Output: (doc_id, n_copies,
    * weight) with weight rounded to 6 dp. Scale shape is
    * [[exactGroups]]' digest hash-agg plus a join back on the 16-byte
    * digest key — no raw text ever shuffles. */
  def softDedupWeights(docs: DataFrame, textCol: String,
      idCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), md5(col(textCol)).as("text_hash"))
      .join(exactGroups(docs, textCol, idCol)
        .select("text_hash", "n_copies"), "text_hash")
      .select(col("doc_id"), col("n_copies"),
        round(lit(1.0) / col("n_copies"), 6).as("weight"))

  /** One micro-batch's ADDITIVE partial for an incremental
    * [[softDedupWeights]]: (text_hash, n) copy counts inside the batch.
    * Counts over disjoint batches SUM to the corpus counts (exact
    * dedup's multiplicity is a pure per-digest count), which is what
    * makes the growing layout's merge-on-read weights equal a batch
    * recompute — the df-merge argument of the incremental BM25 index
    * applied to repeat-weighting. */
  def softDedupPartial(batch: DataFrame, textCol: String): DataFrame =
    batch.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("n"))

  /** Right-to-be-forgotten for the grown [[softDedupPartial]] layout
    * (round-14 verdict ask #6): deletion INVALIDATES the additive copy
    * counts — they must SHRINK — so the delete commits a COMPENSATION
    * epoch of NEGATIVE per-digest counts for the deleted docs, under
    * its own `batch_id` (idempotent dynamic overwrite, exactly the
    * append discipline). The sum-merge at serve time absorbs the
    * tombstone: post-delete weights equal a batch recompute over the
    * survivors (`dedup_soft_weights_delete` shares that oracle). The
    * caller deletes the same docs from the corpus side; a digest whose
    * counts sum to zero then simply has no surviving doc to join.
    *
    * Contrast with the HLL register partials
    * ([[graft.streaming.StreamingApproxDistinct]]): max-merged
    * registers CANNOT be un-maxed — no compensation epoch exists for
    * an idempotent max — so deletion there is REBUILD-ONLY (drop the
    * partials dir, re-sketch the surviving corpus); that contract is
    * documented on the HLL aggregate itself. The bottom-k quantile
    * partials ([[graft.streaming.StreamingQuantile]]) are in the same
    * rebuild-only class for a different structural reason — an epoch's
    * TRUNCATED sample discarded the rows a deleted entry crowded out,
    * so no epoch can refill the slot; contract documented there. */
  def softDedupDeletePartial(deleted: DataFrame,
      textCol: String): DataFrame =
    softDedupPartial(deleted, textCol)
      .select(col("text_hash"), (-col("n")).cast("long").as("n"))

  /** Serve-time weights over a growing directory of
    * [[softDedupPartial]] epochs: global n_copies = Σ per-epoch counts
    * per digest (digest-grain, 16-byte keys), joined back to `docs`.
    * Output and rounding identical to [[softDedupWeights]] — the batch
    * twin shares its oracle. Digests whose counts sum to ≤ 0 (fully
    * deleted via [[softDedupDeletePartial]] tombstones) are dropped
    * defensively — they have no surviving doc to join anyway. */
  def softDedupWeightsFromPartials(docs: DataFrame, textCol: String,
      idCol: String, partials: DataFrame): DataFrame =
    docs.select(col(idCol).as("doc_id"), md5(col(textCol)).as("text_hash"))
      .join(partials.groupBy("text_hash").agg(sum(col("n")).as("n_copies"))
        .filter(col("n_copies") > 0), "text_hash")
      .select(col("doc_id"), col("n_copies"),
        round(lit(1.0) / col("n_copies"), 6).as("weight"))

  // --------------------------------------------------- n-gram Jaccard pairs

  /**
   * All document pairs with n-gram Jaccard similarity ≥ threshold, via a
   * shingle inverted index: explode distinct shingles, drop stop-shingles
   * over the document-frequency cap, self-join on the shingle to generate
   * candidate pairs, then verify each candidate on the FULL shingle sets
   * (|∩| / (|A|+|B|−|∩|) via array_intersect — reported similarity is
   * exact regardless of the cap).
   *
   * The df cap is the 100 TB guard: the inverted-index self-join is
   * quadratic in per-shingle document frequency, so one boilerplate
   * shingle appearing in 1% of a 10 B-doc corpus would alone emit ~10¹⁴
   * candidate pairs. Capping df (standard IR practice) bounds per-key
   * fan-out; a true near-dup pair is lost only if EVERY shingle it shares
   * is a stop-shingle, which a threshold ≥ 0.5 pair essentially never is.
   */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.8,
      maxDfFrac: Double = 0.01, maxDfFloor: Long = 100L): DataFrame = {
    // The inverted index carries the 60-bit shingle HASH, not the shingle
    // string: 8-byte shuffle keys and long-vs-long join comparisons.
    // Jaccard is over hashed-shingle sets — the oracle hashes with the
    // same md5-based function, so any collision is identical on both
    // engines. Materialized: the shingle transform is interpreted
    // (higher-order function) and feeds three consumers.
    val withSh = graft.operators.Materialized(
      docs.select(col(idCol).as("doc_id"),
        graft.functions.GraftFunctions.hashed_shingles(col(textCol), n).as("hs")))
    setJaccardPairs(withSh, threshold, maxDfFrac, maxDfFloor)
  }

  /**
   * The element-agnostic core of [[ngramJaccardPairs]]: all pairs of
   * documents whose hashed ELEMENT SETS (any `array<long>` — text
   * shingles, video frame digests, …) have Jaccard ≥ threshold, via the
   * df-capped inverted index, the PPJoin-style size/upper-bound prunes,
   * and exact verification on the full sets. `withSets` must have
   * columns `(doc_id, hs)` with `hs` distinct; the caller decides its
   * materialization (it feeds three consumers here).
   */
  def setJaccardPairs(withSh: DataFrame, threshold: Double = 0.8,
      maxDfFrac: Double = 0.01, maxDfFloor: Long = 100L): DataFrame =
    pairsFromCapped(withSh,
      cappedSetIndex(withSh, maxDfFrac, maxDfFloor, lit(1L)), threshold)

  /** The df-capped inverted index behind [[setJaccardPairs]]: one row
    * per (doc, element-hash) whose document frequency is under the cap
    * (`max(floor, frac·ndocs)`, computed in-plan — the corpus count
    * broadcasts as a 1-row side, no driver action; the floor keeps
    * small corpora cap-free, the fraction is what matters at scale).
    * `weight` is each input row's document MULTIPLICITY — `lit(1)` for
    * a plain corpus, the identical-set group size when `withSh` holds
    * one representative per distinct set ([[setJaccardEdges]]) — so df
    * and ndocs are weighted sums and the cap engages at DOC grain no
    * matter what grain the index is physically built at. */
  private[graft] def cappedSetIndex(withSh: DataFrame, maxDfFrac: Double,
      maxDfFloor: Long, weight: Column): DataFrame = {
    // `sz` rides the explode so the length filter below needs no extra
    // join/shuffle (8 bytes per index row).
    val inv = withSh.select(col("doc_id"), size(col("hs")).as("sz"),
      weight.cast("long").as("__w"), explode(col("hs")).as("h"))
    val ndocs = withSh.select(weight.cast("long").as("__w"))
      .agg(sum(col("__w")).as("ndocs"))
    val keep = inv.groupBy("h").agg(sum(col("__w")).as("df"))
      .crossJoin(ndocs)
      .where(col("df") <= greatest(lit(maxDfFloor),
        ceil(col("ndocs") * maxDfFrac)))
      .select("h")
    inv.join(keep, "h").select("doc_id", "sz", "h")
  }

  /** Candidate generation + exact verification of [[setJaccardPairs]]
    * over a prebuilt [[cappedSetIndex]]; `withSh` supplies the full
    * sets for verification. */
  private def pairsFromCapped(withSh: DataFrame, capped: DataFrame,
      threshold: Double): DataFrame = {
    // Candidate generation on the capped index only; df-capped `capped`
    // is already hash-partitioned by h for the self-join (exchange
    // reuse). The join carries each side's shingle-set size so the exact
    // LENGTH FILTER applies inside the join: jaccard ≥ t forces
    // t·|A| ≤ |B| ≤ |A|/t (|∩| ≤ min, |∪| ≥ max), so size-incompatible
    // pairs can never pass verification — dropping them BEFORE the
    // distinct is output-identical and cuts the candidate volume (the
    // dominant cost: this corpus yields ~4× more raw pairs than sized
    // ones). Standard AllPairs/PPJoin practice.
    // Per-doc count of shingles that SURVIVED the cap: the gap sz−kept is
    // each doc's slack — shingles the index cannot see. 1 row/doc.
    val keptCnt = capped.groupBy("doc_id").agg(count(lit(1)).as("kept"))
    // Count shared kept shingles per pair instead of distinct-ing the pair
    // explosion (same shuffle volume, but the count IS |∩ over kept|, so
    // with the per-doc slack it yields an exact jaccard UPPER BOUND:
    // |∩| ≤ common_kept + min(slack_a, slack_b). Only pairs whose bound
    // clears the threshold reach the array verify — on a near-dup corpus
    // that collapses millions of candidates to roughly the output size.
    // When nothing is capped the bound IS the true jaccard.
    val pairCommon = capped.as("a").join(capped.as("b"),
        col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.sz") * threshold <= col("b.sz") &&
          col("b.sz") * threshold <= col("a.sz"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common_kept"),
        first(col("a.sz")).as("sz_a"), first(col("b.sz")).as("sz_b"))
    // No broadcast() hint on keptCnt: it is one row PER DOCUMENT, so at
    // corpus scale it is not broadcastable (the hint would force a
    // driver collect of the whole table). The join keys on doc_a/doc_b
    // — a shuffle hash join is the right shape, and AQE still promotes
    // to broadcast when the table happens to be small.
    val cand = pairCommon
      .join(keptCnt.select(col("doc_id").as("doc_a"),
        col("kept").as("kept_a")), "doc_a")
      .join(keptCnt.select(col("doc_id").as("doc_b"),
        col("kept").as("kept_b")), "doc_b")
      .withColumn("ub_common", col("common_kept") +
        least(col("sz_a") - col("kept_a"), col("sz_b") - col("kept_b")))
      .filter(col("ub_common").cast("double") /
        (col("sz_a") + col("sz_b") - col("ub_common")) >= threshold)
      .select("doc_a", "doc_b")
    // Exact verification on full shingle sets (same shape as the LSH
    // variant below; only bound-clearing candidates fetch arrays).
    val shSets = withSh.select(col("doc_id"), col("hs"))
    cand
      .join(shSets.select(col("doc_id").as("doc_a"), col("hs").as("sh_a")), "doc_a")
      .join(shSets.select(col("doc_id").as("doc_b"), col("hs").as("sh_b")), "doc_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  // ----------------------------------------- cross-corpus decontamination

  /**
   * Benchmark-contamination pairs: training documents that contain a
   * large fraction of some benchmark document's n-grams — the eval-set
   * leak check run before LLM training. Uses CONTAINMENT
   * |shingles(doc) ∩ shingles(bench)| / |shingles(bench)| rather than
   * Jaccard: a short benchmark item embedded verbatim in a long training
   * document must still score 1.0.
   *
   * Same scale shape as [[ngramJaccardPairs]]: inverted-index join on
   * 8-byte shingle hashes (corpus side df-capped against stop-shingle
   * fan-out), candidates deduped, then exact containment on the full
   * shingle sets. The benchmark side is tiny by nature (eval suites), so
   * the join fan-out is bounded by benchmark shingle counts.
   */
  def contaminationPairs(corpus: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, n: Int = 3, threshold: Double = 0.8,
      maxDfFrac: Double = 0.01, maxDfFloor: Long = 100L): DataFrame = {
    val in = ContaminationIndex(corpus, bench, textCol, idCol, n)
    val keep = in.invC.groupBy("h").agg(count(lit(1)).as("df"))
      .crossJoin(in.ndocs)
      .where(col("df") <= greatest(lit(maxDfFloor),
        ceil(col("ndocs") * maxDfFrac)))
      .select("h")
    val capped = in.invC.join(keep, "h")
    val keptCnt = capped.groupBy("doc_id").agg(count(lit(1)).as("kept"))
    contaminationVerify(in, keptCnt, pairing = capped, threshold)
  }

  /** Shared relations of both contamination formulations: materialized
    * hashed-shingle sets per side, exploded inverted indexes, corpus
    * doc count. */
  private case class ContaminationIndex(cs: DataFrame, bs: DataFrame,
      invC: DataFrame, invB: DataFrame, ndocs: DataFrame)
  private object ContaminationIndex {
    def apply(corpus: DataFrame, bench: DataFrame, textCol: String,
        idCol: String, n: Int): ContaminationIndex = {
      val cs = graft.operators.Materialized(
        corpus.select(col(idCol).as("doc_id"),
          graft.functions.GraftFunctions.hashed_shingles(col(textCol), n).as("hs")))
      val bs = graft.operators.Materialized(
        bench.select(col(idCol).as("bench_id"),
          graft.functions.GraftFunctions.hashed_shingles(col(textCol), n).as("bhs"))
        .filter(size(col("bhs")) > 0))
      ContaminationIndex(cs, bs,
        invC = cs.select(col("doc_id"), size(col("hs")).as("sz"),
          explode(col("hs")).as("h")),
        invB = bs.select(col("bench_id"), explode(col("bhs")).as("h")),
        ndocs = cs.agg(count(lit(1)).as("ndocs")))
    }
  }

  /**
   * Shared candidate-bound + exact-verify tail of both contamination
   * formulations — ONE definition, so a threshold/bound/containment
   * change cannot diverge the equi-join and Bloom paths. `pairing` is
   * each formulation's df-capped (and possibly sketch-gated) pairing
   * side `(doc_id, sz, h)`; `keptCnt` is the per-doc count of df-KEPT
   * shingles (pre-gate — the ub slack must count every shingle the
   * pairing side cannot see).
   *
   * Count-bound shape as in [[ngramJaccardPairs]]: count shared kept
   * shingles per (doc, bench) pair instead of distinct-ing the pair
   * explosion; |∩| ≤ common_kept + (sz − kept), also ≤ |bench|, so only
   * bound-clearing pairs reach the array verify.
   */
  private def contaminationVerify(in: ContaminationIndex,
      keptCnt: DataFrame, pairing: DataFrame,
      threshold: Double): DataFrame = {
    val pairCommon = pairing.join(in.invB, "h")
      .where(col("doc_id") =!= col("bench_id"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("common_kept"), first(col("sz")).as("sz_a"))
    val cand = pairCommon
      .join(keptCnt, "doc_id")
      .join(broadcast(in.bs.select(col("bench_id"),
        size(col("bhs")).as("bsz"))), "bench_id")
      .withColumn("ub", least(
        col("common_kept") + (col("sz_a") - col("kept")), col("bsz")))
      .filter(col("ub").cast("double") / col("bsz") >= threshold)
      .select("doc_id", "bench_id")
    cand
      .join(in.cs, "doc_id")
      .join(in.bs, "bench_id")
      .withColumn("containment",
        size(array_intersect(col("hs"), col("bhs"))).cast("double") /
          size(col("bhs")))
      .filter(col("containment") >= threshold)
      .select("doc_id", "bench_id", "containment")
  }

  /** The decontaminated corpus: drop every document contaminated against
    * `bench` (anti-join on the flagged ids — all other columns ride
    * through untouched). */
  def decontaminate(corpus: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, n: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val bad = contaminationPairs(corpus, bench, textCol, idCol, n, threshold)
      .select(col("doc_id").as(idCol)).distinct()
    corpus.join(bad, Seq(idCol), "left_anti")
  }

  /** Distributed build + registration of the benchmark shingle-hash
    * Bloom filter for [[contaminationPairsBloom]]: distinct bench
    * shingle hashes aggregated into one sketch (`stat.bloomFilter` —
    * no raw hashes collected), shipped to executors under `name` via
    * [[BloomRegistry]]. The benchmark side is tiny by nature (eval
    * suites), so the sketch is a bounded driver artifact — the same
    * doctrine as the ≤4096-row training samples. Returns `name`. */
  def registerBenchBloom(spark: org.apache.spark.sql.SparkSession,
      bench: DataFrame, textCol: String, n: Int = 3, fpp: Double = 0.01,
      name: String): String = {
    val hs = bench.select(explode(
      graft.functions.GraftFunctions.hashed_shingles(col(textCol), n)).as("h"))
      .distinct()
    val expected = math.max(hs.count(), 1L)
    val registered =
      BloomRegistry.register(spark, hs.stat.bloomFilter("h", expected, fpp), name)
    // Record the shingle width: a sketch built at n=4 queried with
    // 3-gram hashes matches NOTHING, and a Bloom miss is a silent DROP
    // — consumers validate this instead of discovering it as an empty
    // result (registered only on success, so a failed register leaves
    // no stale metadata).
    BloomRegistry.putMeta(registered, s"shingle-n=$n")
    registered
  }

  /**
   * Bloom-prefiltered contamination pairs — IDENTICAL output to
   * [[contaminationPairs]] (it shares the exact-containment verify and
   * every threshold), restructured for the case that dominates at
   * corpus scale: a huge corpus checked against a small benchmark set.
   * Two changes, neither able to alter the result:
   *
   *  1. The pairing shuffle is prefiltered by the benchmark's
   *     shingle-hash Bloom filter (pre-registered via
   *     [[registerBenchBloom]]), applied as a codegen'd map-side
   *     predicate BEFORE the exchange. Bloom filters have no false
   *     negatives, and every corpus shingle actually shared with the
   *     benchmark IS in the filter — so no true candidate is lost;
   *     false positives are discarded by the equi-join against the
   *     benchmark index right after, exactly as before. What changes is
   *     the shuffle volume: only bench-plausible shingles (≈ fpp of the
   *     corpus inverted index, plus true matches) cross the wire,
   *     instead of the entire df-capped corpus index.
   *
   *  2. The df cap ships as a broadcast of the HOT (capped-away) hash
   *     set instead of an equi-join against the kept set. The hot set
   *     is bounded independently of corpus size: df > ndocs·maxDfFrac
   *     hashes number at most avgShinglesPerDoc / maxDfFrac (Σdf over
   *     all hashes = total shingle instances), so the broadcast stays
   *     ~10⁴ keys at ANY corpus size and the corpus index is never
   *     shuffled by shingle hash at all — per-doc kept counts reduce
   *     map-side by doc_id. The kept/capped partition of hashes is the
   *     same set either way.
   *
   * Remaining shuffles: the df count (map-combined (h, count) partial
   * rows), the per-doc kept count (map-combined (doc, count)), and the
   * bloom-surviving pairing join — the 100 TB shape this operator
   * should have had from the start; the equi-join original remains as
   * the oracle-anchored reference formulation.
   */
  def contaminationPairsBloom(corpus: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, bloomName: String, n: Int = 3,
      threshold: Double = 0.8, maxDfFrac: Double = 0.01,
      maxDfFloor: Long = 100L): DataFrame = {
    // Fail fast on a sketch/query parameter mismatch: with a different
    // shingle width every membership test is false and the operator
    // SILENTLY returns no pairs (= commits contaminated docs as clean).
    BloomRegistry.getMeta(bloomName) match {
      case Some(m) => require(m == s"shingle-n=$n",
        s"Bloom sketch '$bloomName' was built with $m but is being " +
          s"queried with shingle-n=$n — a mismatch matches nothing")
      case None => throw new IllegalArgumentException(
        s"Bloom sketch '$bloomName' is not registered in this JVM; " +
          "build it with TextDedup.registerBenchBloom on the driver")
    }
    val in = ContaminationIndex(corpus, bench, textCol, idCol, n)
    // Hot (capped-away) hashes: the complement of contaminationPairs'
    // `keep` — small by the Σdf argument above, hence broadcastable.
    val hot = in.invC.groupBy("h").agg(count(lit(1)).as("df"))
      .crossJoin(in.ndocs)
      .where(col("df") > greatest(lit(maxDfFloor),
        ceil(col("ndocs") * maxDfFrac)))
      .select("h")
    val invKept = in.invC.join(broadcast(hot), Seq("h"), "left_anti")
    val keptCnt = invKept.groupBy("doc_id").agg(count(lit(1)).as("kept"))
    val gated = invKept.where(
      graft.functions.GraftFunctions.bloom_might_contain(
        lit(bloomName), col("h")))
    contaminationVerify(in, keptCnt, pairing = gated, threshold)
  }

  /** [[decontaminate]] through the Bloom-prefiltered pair path — same
    * anti-join end state, same output, corpus-scale shuffle profile. */
  def decontaminateBloom(corpus: DataFrame, bench: DataFrame,
      textCol: String, idCol: String, bloomName: String, n: Int = 3,
      threshold: Double = 0.8, maxDfFrac: Double = 0.01,
      maxDfFloor: Long = 100L): DataFrame = {
    val bad = contaminationPairsBloom(corpus, bench, textCol, idCol,
      bloomName, n, threshold, maxDfFrac, maxDfFloor)
      .select(col("doc_id").as(idCol)).distinct()
    corpus.join(bad, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------------------ MinHash LSH

  /** MinHash signature (numPerms values) from an array of PRE-HASHED
    * shingles: sig[i] = min over hashes h of ((2i+1)·h + i²+7) mod P.
    * Takes hashes (not strings) so the md5 pass runs once per shingle,
    * not once per permutation — Catalyst does not CSE across lambda
    * bodies, so inlining the hash here would cost numPerms× md5 calls.
    * Codegen'd JVM loop (VectorAdapters.minhashSig), identical values to
    * the nested transform/array_min formulation it replaces. */
  def minhashSignature(hashArr: Column, numPerms: Int): Column =
    graft.functions.GraftFunctions.minhash_sig(hashArr, numPerms)

  /**
   * Derive the LSH banding `(numBands, bandRows)` for a signature
   * budget and target Jaccard threshold — the datasketch-style
   * parameter derivation constrained to exact divisors. The
   * band-candidate S-curve P(candidate | j) = 1 − (1 − j^r)^b crosses
   * ½ at the midpoint m = (1/b)^(1/r); among divisors r | numPerms the
   * chosen r is the LARGEST whose midpoint does not exceed the
   * threshold (the recall-safe side: a pair AT the threshold keeps
   * > ½ per-probe candidate probability, where a midpoint above the
   * threshold would halve recall exactly where the operator promises
   * it), falling back to r = 1 if even that overshoots (threshold
   * below 1/numPerms). Deterministic and corpus-independent; for the
   * default (32, 0.8) budget it derives (8 bands, 4 rows) — midpoint
   * ≈ 0.59, candidate probability ≈ 0.985 at j = 0.8.
   */
  def bandingForThreshold(numPerms: Int, threshold: Double): (Int, Int) = {
    require(numPerms > 0, s"numPerms must be positive, got $numPerms")
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0,1), got $threshold")
    val divisors = (1 to numPerms).filter(numPerms % _ == 0)
    def midpoint(r: Int): Double =
      math.pow(r.toDouble / numPerms, 1.0 / r)
    val safe = divisors.filter(r => midpoint(r) <= threshold)
    val r = if (safe.nonEmpty) safe.max else 1
    (numPerms / r, r)
  }

  /** The `bandRows` a 0 (= derive) default resolves to. */
  private def resolveBandRows(numPerms: Int, bandRows: Int,
      threshold: Double): Int =
    if (bandRows > 0) bandRows
    else bandingForThreshold(numPerms, threshold)._2

  /**
   * Near-duplicate pairs via MinHash-LSH banding: documents sharing any
   * band of the signature become candidates; candidates are verified
   * with the exact shingle Jaccard. `bandRows = 0` (the default)
   * derives the banding from the threshold via
   * [[bandingForThreshold]] — at the default (32, 0.8) budget that is
   * 8 bands × 4 rows, the previously hand-tuned configuration.
   */
  def minhashLshPairs(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, numPerms: Int = 32, bandRows: Int = 0,
      threshold: Double = 0.8): DataFrame =
    minhashLshPairsFromShingles(
      docs.select(col(idCol).as("doc_id"),
        graft.functions.GraftFunctions.hashed_shingles(col(textCol), n)
          .as("hs")),
      numPerms, bandRows, threshold)

  /** [[minhashLshPairs]] over a PREBUILT `(doc_id, hs)` hashed-shingle
    * frame — pass a shared (materialized) shingle relation when several
    * detector families consume the same shingles (the dedup-eval mart's
    * shape; round-16 optimization: one shingle kernel pass instead of
    * one per family). Plan- and value-identical to [[minhashLshPairs]]
    * when handed the unmaterialized select it builds itself. */
  def minhashLshPairsFromShingles(shingled: DataFrame, numPerms: Int = 32,
      bandRows: Int = 0, threshold: Double = 0.8): DataFrame = {
    val rows = resolveBandRows(numPerms, bandRows, threshold)
    require(numPerms % rows == 0, "bandRows must divide numPerms")
    val numBands = numPerms / rows
    // The signature relation is materialized: it feeds both sides of the
    // band self-join plus the verification joins (4 consumers), and the
    // signature expression is a higher-order array transform that runs
    // interpreted (no whole-stage codegen) — recomputing it 4× dominated
    // the runtime before this. Production LSH pipelines materialize
    // signatures for the same reason; one row per document, so the
    // footprint is tiny relative to the corpus.
    val withSh = graft.operators.Materialized(
      shingled
      .filter(size(col("hs")) > 0)
      .withColumn("sig", minhashSignature(col("hs"), numPerms)))
    // (band_id, band_signature, doc_id) — the only shuffled relation.
    val bands = withSh.select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(numBands - 1)),
          b => struct(b.as("band_id"),
            concat_ws("-", slice(col("sig"), b * rows + 1, lit(rows)))
              .as("band_sig")))).as("bs"))
      .select(col("doc_id"), col("bs.band_id"), col("bs.band_sig"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_sig") === col("b.band_sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // Verify candidates with the exact hashed-shingle Jaccard (long-array
    // intersect; the oracle hashes identically).
    val shSets = withSh.select(col("doc_id"), col("hs"))
    cand
      .join(shSets.select(col("doc_id").as("doc_a"), col("hs").as("sh_a")), "doc_a")
      .join(shSets.select(col("doc_id").as("doc_b"), col("hs").as("sh_b")), "doc_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /**
   * Corpus-level duplicate-LINE removal (RefinedWeb/MassiveText's
   * line-dedup pass): a line appearing in at least `minDocs` DISTINCT
   * documents is boilerplate (nav bars, footers, cookie banners —
   * content no single document owns) and is excised from EVERY
   * document; surviving lines rebuild in original order. Distinct from
   * [[SubstringDedup]] (pairwise w-token runs) and from the C4 line
   * rules (document-local): the evidence here is corpus-wide line
   * frequency.
   *
   * Scale shape: one posexplode + a line-grain hash aggregation
   * (count of distinct docs per line — the inverted-index shape), a
   * left-anti join on the line key, and one per-doc rebuild
   * aggregation (sort_array over (idx, line) structs — line-grain
   * shuffle, no windows, no driver state). Output: doc_id, clean_md5
   * (digest of the rebuilt text; keeps verify rows small), n_lines,
   * n_kept_lines.
   */
  def removeBoilerplateLines(docs: DataFrame, textCol: String,
      idCol: String, minDocs: Long = 5): DataFrame = {
    require(minDocs >= 2, "minDocs must be at least 2")
    val lines = graft.operators.Materialized(
      docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("idx", "line"))))
    val boiler = lines.groupBy("line")
      .agg(count_distinct(col("doc_id")).as("__df"))
      .filter(col("__df") >= minDocs)
      .select("line")
    val kept = lines.join(boiler, Seq("line"), "left_anti")
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("idx"), col("line")))),
            s => s.getField("line")), "\n").as("__clean"),
        count(lit(1)).as("n_kept_lines"))
    // every input doc emits a row — a doc whose lines were ALL
    // boilerplate comes back empty, not absent
    docs.select(col(idCol).as("doc_id"),
        size(split(col(textCol), "\n")).cast("long").as("n_lines"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        md5(coalesce(col("__clean"), lit(""))).as("clean_md5"),
        col("n_lines"),
        coalesce(col("n_kept_lines"), lit(0L)).as("n_kept_lines"))
  }

  /**
   * Connectivity-equivalent EDGE frame for [[setJaccardPairs]] — the
   * star-edge move for SET-fingerprinted documents (video frame-digest
   * sets): identical-set groups (canonical sorted-array key) become
   * star edges, the df-capped inverted-index + exact-Jaccard pairing
   * runs over ONE representative per distinct set, and verified pairs
   * become bridges. Jaccard is a pure function of the set, and the df
   * cap + corpus count are computed at DOC grain (the representative
   * carries its group size as a weight into [[cappedSetIndex]]) with
   * stars gated on the group keeping ≥1 hash under that cap, so
   * components from [[ConnectedComponents.label]] are identical to the
   * pair-fed formulation EVEN when the cap engages on a dup-dense
   * corpus (DedupSpec proves both regimes); empty-set documents are
   * excluded from stars (the pair formulation never pairs them).
   * `withSh` must have columns `(doc_id, hs)` with `hs` distinct
   * elements.
   */
  def setJaccardEdges(withSh: DataFrame, threshold: Double = 0.8,
      maxDfFrac: Double = 0.01, maxDfFloor: Long = 100L): DataFrame = {
    // one stored copy of each set: the canonical sorted array is BOTH
    // the grouping key and the representatives' `hs` (same distinct
    // elements — Jaccard is order-blind), so the materialized relation
    // never holds the set twice
    val base = graft.operators.Materialized(
      withSh.select(col("doc_id"), array_sort(col("hs")).as("__key"))
        .filter(size(col("__key")) > 0))
    // group size rides as the representative's WEIGHT: df and ndocs in
    // the capped index below are weighted sums, i.e. computed at DOC
    // grain exactly as the pair formulation computes them — a rep-grain
    // df would under-count dup-dense hashes and keep index entries the
    // pair formulation drops once the cap engages (round-9 advice).
    val grp = base.groupBy("__key")
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("__w"))
    val repSets = graft.operators.Materialized(
      grp.select(col("rep").as("doc_id"), col("__key").as("hs"),
        col("__w")))
    val capped = graft.operators.Materialized(
      cappedSetIndex(repSets, maxDfFrac, maxDfFloor, col("__w")))
    val bridges = pairsFromCapped(repSets, capped, threshold)
      .select(col("doc_a"), col("doc_b"))
    // STAR edges only for groups whose set retains ≥1 hash under the
    // doc-grain cap: the pair formulation connects an identical-set
    // group iff its members share a KEPT hash (candidates come from the
    // capped index; with ≥1 kept hash the jaccard-1 verify always
    // passes), so a fully-capped group is disconnected there and must
    // stay disconnected here — this is what makes the component claim
    // hold even when the cap engages, not just in the cap-free case.
    val keptReps = capped.select(col("doc_id").as("rep")).distinct()
    val stars = base.join(grp, "__key")
      .where(col("doc_id") =!= col("rep"))
      .join(keptReps, Seq("rep"), "left_semi")
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    stars.unionByName(bridges)
  }

  /**
   * Connectivity-equivalent EDGE frame for the text near-dup graph —
   * [[hammingEdgesWide]]'s star-edge move applied to MinHash-LSH. On an
   * exact-dup-heavy corpus, [[minhashLshPairs]]' band self-join emits
   * k²/2 candidate pairs for a group of k identical texts AND fetches
   * k² full shingle arrays to verify them; when the consumer is
   * connected components (the dedup corpus end states), only
   * CONNECTIVITY matters. This variant emits:
   *
   *  - STAR edges within identical-text groups (md5 digest, group min
   *    doc id → member, k−1 rows) — but ONLY for texts that produce at
   *    least one shingle, because [[minhashLshPairs]] never pairs
   *    shingle-less documents and the component structure must match
   *    the pair formulation exactly;
   *  - the full banding + exact-Jaccard verification run over ONE
   *    representative per distinct text, each verified pair a BRIDGE
   *    between group representatives.
   *
   * Jaccard is a pure function of the text, so a cross-group pair
   * qualifies for every member iff it qualifies for the
   * representatives — components from [[ConnectedComponents.label]]
   * are identical to the pair-fed formulation, and corpus-end-state
   * oracles are unchanged. Edge rows = (shingled docs − distinct
   * texts) + verified distinct-text pairs; banding/verification work
   * drops to distinct-text grain. Output: (doc_a, doc_b), doc_a < doc_b.
   */
  def minhashLshEdges(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, numPerms: Int = 32, bandRows: Int = 0,
      threshold: Double = 0.8): DataFrame = {
    // the materialized relation carries ONLY (doc_id, digest) — 24
    // bytes/doc, never the corpus text (a full-text materialization
    // would double the corpus's memory footprint at scale); the
    // representatives' text is re-read from the source via a semi-join
    val base = graft.operators.Materialized(
      docs.select(col(idCol).cast("long").as("doc_id"),
          md5(col(textCol)).as("__dg"))
        .filter(size(graft.functions.GraftFunctions
          .hashed_shingles(col(textCol), n)) > 0))
    val rep = base.groupBy("__dg").agg(min(col("doc_id")).as("rep"))
    val stars = base.join(rep, "__dg")
      .where(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    val repDocs = docs.join(
      rep.select(col("rep").as(idCol)), Seq(idCol), "left_semi")
    val bridges = minhashLshPairs(repDocs, textCol, idCol,
      n, numPerms, bandRows, threshold)
      .select(col("doc_a"), col("doc_b"))
    // disjoint by construction: star endpoints share a digest,
    // bridge endpoints are reps of distinct digests
    stars.unionByName(bridges)
  }

  /**
   * One representative per near-dup component chosen by QUALITY —
   * argmax on `quality` (ties → smallest id) instead of the min-id
   * keeper: what a production corpus pipeline actually keeps (the
   * longest / cleanest member of each duplicate cluster, not an
   * arbitrary one). Scale shape: the MinHash banding + CC labeling of
   * [[minhashLshPairs]]/[[ConnectedComponents.label]], then ONE hash
   * aggregation (min_by with map-side combine) over the labeled corpus
   * — no window, no per-component sort.
   */
  def keepersByQuality(docs: DataFrame, textCol: String, idCol: String,
      quality: Column): DataFrame =
    keepersByQuality(docs, idCol, quality,
      ConnectedComponents.label(docs.select(col(idCol)),
        minhashLshPairs(docs, textCol, idCol), "doc_a", "doc_b"))

  /** [[keepersByQuality]] over PRECOMPUTED component labels — pass the
    * shared/cached label frame when several consumers need it (the CC
    * loop is the expensive part). */
  def keepersByQuality(docs: DataFrame, idCol: String, quality: Column,
      labels: DataFrame): DataFrame =
    docs.join(labels.withColumnRenamed("node", idCol), idCol)
      .groupBy("component")
      .agg(min_by(col(idCol), struct(-quality, col(idCol))).as(idCol))
      .select(idCol)

  // ---------------------------------------------------- incremental dedup

  /**
   * Incremental dedup: the documents of a NEW batch that survive against
   * an EXISTING corpus — the steady-state form of dedup (corpora grow by
   * crawl batches; re-running all-pairs over corpus+batch each time is
   * quadratic in history, while batch-vs-index is linear in the batch).
   *
   *  - exact: batch text digests semi-joined against corpus digests;
   *  - near: MinHash-LSH bands of the batch joined against CORPUS bands
   *    (same banding as [[minhashLshPairs]]), candidates verified with
   *    the exact hashed-shingle jaccard at `threshold`.
   *
   * Batch-internal duplicates are intentionally NOT removed here (that is
   * [[minhashLshPairs]]/[[exactGroups]] over the batch); the corpus side
   * (digests, bands, shingle sets) is recomputed in this demo but at
   * scale would be a precomputed index read from parquet and appended
   * after each batch.
   */
  def dedupAgainstCorpus(batch: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, n: Int = 3, numPerms: Int = 32,
      bandRows: Int = 0, threshold: Double = 0.8): DataFrame =
    dedupAgainstIndex(batch, corpusIndex(corpus, textCol, idCol, n),
      textCol, idCol, n, numPerms, bandRows, threshold)

  /** The precomputed corpus side of [[dedupAgainstIndex]]: one
    * (doc_id, digest, hs) row per document. Production persists this to
    * parquet once and APPENDS each accepted batch — the corpus text is
    * never re-shingled (see [[graft.streaming.StreamingDedup]]). */
  def corpusIndex(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3): DataFrame = docs.select(
    col(idCol).as("doc_id"), md5(col(textCol)).as("digest"),
    graft.functions.GraftFunctions.hashed_shingles(col(textCol), n).as("hs"))

  /** [[dedupAgainstCorpus]] against a PRECOMPUTED [[corpusIndex]] frame —
    * the steady-state form: linear in the batch, reads (never rebuilds)
    * the corpus digests/shingles. */
  def dedupAgainstIndex(batch: DataFrame, index: DataFrame,
      textCol: String, idCol: String, n: Int = 3, numPerms: Int = 32,
      bandRows: Int = 0, threshold: Double = 0.8): DataFrame = {
    val rows = resolveBandRows(numPerms, bandRows, threshold)
    require(numPerms % rows == 0, "bandRows must divide numPerms")
    val numBands = numPerms / rows
    def bandsOf(sig: DataFrame): DataFrame = sig
      .filter(size(col("hs")) > 0)
      .withColumn("sig", minhashSignature(col("hs"), numPerms))
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(numBands - 1)),
          b => struct(b.as("band_id"),
            concat_ws("-", slice(col("sig"), b * rows + 1, lit(rows)))
              .as("band_sig")))).as("bs"))
      .select(col("doc_id"), col("bs.band_id"), col("bs.band_sig"))
    val bSig = graft.operators.Materialized(corpusIndex(batch, textCol, idCol, n))
    val cSig = graft.operators.Materialized(index)
    val exactDup = bSig
      .join(cSig.select("digest"), Seq("digest"), "left_semi")
      .select("doc_id")
    val cand = bandsOf(bSig).as("a").join(bandsOf(cSig).as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_sig") === col("b.band_sig"))
      .select(col("a.doc_id").as("bid"), col("b.doc_id").as("cid"))
      .distinct()
    val nearDup = cand
      .join(bSig.select(col("doc_id").as("bid"), col("hs").as("sh_a")), "bid")
      .join(cSig.select(col("doc_id").as("cid"), col("hs").as("sh_b")), "cid")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .filter(col("common").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("common")) >= threshold)
      .select(col("bid").as("doc_id")).distinct()
    val dupIds = exactDup.unionByName(nearDup).distinct()
    batch.join(dupIds.withColumnRenamed("doc_id", idCol),
      Seq(idCol), "left_anti")
  }

  // --------------------------------------------------------------- SimHash

  /**
   * 60-bit SimHash per document over term-frequency-weighted token hashes
   * (bit j of the fingerprint is 1 iff the occurrence-weighted vote for
   * bit j is positive — the classic Charikar construction).
   * One codegen'd per-document kernel pass, zero shuffle — an earlier
   * formulation exploded tokens × 60 bit rows through two aggregations,
   * which is 60·|tokens| shuffled rows (wrong shape at corpus scale).
   */
  def simhash(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      // token-less documents have no fingerprint (the aggregation
      // formulation — and the oracle — produce no row for them)
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol).as("doc_id"),
        graft.functions.GraftFunctions.simhash60(col(textCol)).as("simhash"))

  /**
   * Document pairs with SimHash Hamming distance ≤ maxDist. DEFAULT plan
   * is the Manku-style wide-key banding of [[simhashPairsWide]]: both
   * schemes have exact pigeonhole recall and produce the IDENTICAL pair
   * set, but the wide combination keys keep candidate selectivity on
   * low-entropy corpora (the 10× soak measured the chunk-banded plan at
   * 27.1× vs 2.1× wide, same output — SOAK_r05.md), so wide is what a
   * caller should get without opting in. The chunk-banded plan remains
   * reachable directly ([[simhashPairsChunked]]) and is selected here
   * automatically when `maxChunkFreq` is set — the df-style chunk cap
   * is a chunk-scheme concept the wide keys do not reproduce.
   */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 1, maxChunkFreq: Option[Long] = None): DataFrame =
    maxChunkFreq match {
      case None => simhashPairsWide(docs, textCol, idCol, maxDist)
      case some => simhashPairsChunked(docs, textCol, idCol, maxDist, some)
    }

  /**
   * Chunk-banded simhash pairs: bucketed by 15-bit fingerprint chunks
   * (pigeonhole: any pair within Hamming 3 of a 60-bit hash shares at
   * least one of 4 chunks — exact recall for maxDist ≤ numChunks−1).
   *
   * Scale notes (from the 10× soak): low-entropy corpora cluster
   * fingerprints, so some chunk values become heavy hitters and the
   * candidate join's per-key cross product dominates — which is why
   * [[simhashPairs]] defaults to the wide-key plan. Two defenses here:
   *  - the self-join is hinted shuffle_hash — a sort-merge join buffers
   *    each duplicate-key group and re-iterates it per left match,
   *    which is what turned a streamable 2 G-row join into minutes;
   *    the hash join streams it (measured 86 s → ~8 s at 50 k docs);
   *  - `maxChunkFreq` optionally drops chunk values shared by more
   *    fingerprints than the cap (the simhash analogue of the ngram
   *    stop-shingle df cap). Recall caveat: a pair is lost only if
   *    EVERY chunk it shares is capped; the exact-recall pigeonhole
   *    guarantee holds only with the cap off.
   */
  def simhashPairsChunked(docs: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 1, maxChunkFreq: Option[Long] = None): DataFrame = {
    // Materialized (not persisted — see graft.operators.Materialized):
    // feeds the distinct-fingerprint candidate join AND both sides of
    // the doc expansion below.
    val sh = graft.operators.Materialized(simhash(docs, textCol, idCol))
    // Candidate generation runs over DISTINCT fingerprints, not documents:
    // exact/near-exact duplicate groups (the common case in a dirty
    // corpus) share all chunks, so a doc-level chunk self-join explodes
    // quadratically in group size (25M joined rows for 5k docs here,
    // job-killing at corpus scale) while the fingerprint-level join stays
    // proportional to DISTINCT fingerprints. Doc pairs are recovered
    // afterwards by expanding each qualifying fingerprint pair through
    // its member docs — work proportional to the OUTPUT, not the groups
    // squared times chunks.
    val fps = sh.select(col("simhash")).distinct()
    val chunksAll = fps.select(col("simhash"),
        explode(sequence(lit(0), lit(3))).as("c"))
      .withColumn("chunk", expr("(simhash >> (15 * c)) & 32767"))
    val chunks = maxChunkFreq match {
      case Some(cap) =>
        val keep = chunksAll.groupBy("c", "chunk")
          .agg(count(lit(1)).as("__f")).where(col("__f") <= cap)
          .select("c", "chunk")
        chunksAll.join(keep, Seq("c", "chunk"))
      case None => chunksAll
    }
    // fa <= fb keeps the within-group (fa = fb, hamming 0) case.
    // shuffle_hash: see scaladoc — SMJ buffers duplicate-key groups.
    val fpairs = chunks.as("a").join(chunks.as("b").hint("shuffle_hash"),
        col("a.c") === col("b.c") && col("a.chunk") === col("b.chunk") &&
          col("a.simhash") <= col("b.simhash"))
      .select(col("a.simhash").as("fa"), col("b.simhash").as("fb"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
    expandToDocPairs(sh, fpairs)
  }

  /** Qualifying fingerprint pairs → doc pairs (work ∝ OUTPUT). */
  private def expandToDocPairs(sh: DataFrame, fpairs: DataFrame): DataFrame =
    fpairs
      .join(sh.select(col("simhash").as("fa"), col("doc_id").as("da")), "fa")
      .join(sh.select(col("simhash").as("fb"), col("doc_id").as("db")), "fb")
      .where(col("da") =!= col("db"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
      // fa = fb groups emit each unordered pair in both orders
      .distinct()

  /**
   * [[simhashPairs]] with Manku-style WIDE bucket keys — the structural
   * fix for clustered fingerprints: instead of bucketing on single
   * 15-bit chunks (whose hot values go quadratic on low-entropy
   * corpora), bucket on every (4−maxDist)-chunk COMBINATION packed into
   * one long key (45 bits for maxDist=1 across C(4,3)=4 tables).
   * Pigeonhole still gives EXACT recall — a pair within Hamming
   * `maxDist` leaves ≥ 4−maxDist chunks untouched, so it collides in
   * the table keyed by those chunks — while candidate selectivity now
   * scales with the wide-key space instead of 2^15 (the soak's 50 k-doc
   * corpus: 27 s chunk-banded → sub-second wide-keyed, same output).
   * Cost: C(4, 4−maxDist) index rows per fingerprint instead of 4.
   */
  def simhashPairsWide(docs: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 1): DataFrame =
    hammingPairsWide(simhash(docs, textCol, idCol), "doc_id", "simhash",
      maxDist, chunkBits = 15)

  /**
   * Generalized Manku wide-key Hamming banding over ANY per-document
   * integer fingerprint column — the engine's one pairing kernel for
   * fingerprint families (text simhash at 60 bits / 15-bit chunks,
   * image dHash and audio fingerprints at 64 bits / 16-bit chunks).
   * `hashes` is (idCol, hashCol); output (doc_a, doc_b, hamming) with
   * EXACT pigeonhole recall for maxDist ≤ numChunks−1: a pair within
   * Hamming maxDist leaves ≥ numChunks−maxDist chunks untouched, so it
   * collides in the table keyed by exactly those chunks. Candidate
   * generation runs over DISTINCT fingerprints and expands to documents
   * afterwards (work ∝ output, not group size²); shifts are masked, so
   * fingerprints using bit 63 (sign) band correctly.
   */
  /**
   * Batch-vs-corpus form of [[hammingPairsWide]]: the ids from `probe`
   * whose fingerprint is within Hamming `maxDist` of ANY fingerprint in
   * `index` (a one-column frame of stored fingerprints). Same wide
   * combination keys, same exact pigeonhole recall; the join runs over
   * DISTINCT fingerprints on both sides and expands only to matched
   * probe ids — the shape the streaming media dedup uses per
   * micro-batch (linear in the batch, never quadratic in history).
   */
  def hammingMatchedIds(probe: DataFrame, idCol: String, hashCol: String,
      index: DataFrame, indexHashCol: String, maxDist: Int,
      chunkBits: Int, numChunks: Int = 4): DataFrame = {
    require(maxDist >= 0 && maxDist <= numChunks - 1,
      s"maxDist must be in [0, ${numChunks - 1}] for exact recall")
    val mask = (1L << chunkBits) - 1
    def keyed(fps: DataFrame): DataFrame = {
      val combos = (0 until numChunks).combinations(numChunks - maxDist)
        .toSeq.zipWithIndex
      combos.map { case (chunkIdxs, comboId) =>
        val key = chunkIdxs.zipWithIndex.map { case (c, pos) =>
          expr(s"((fp >> (${chunkBits * c})) & ${mask}L) << ${chunkBits * pos}")
        }.reduce(_ + _)
        fps.select(col("fp"), lit(comboId).as("t"), key.as("k"))
      }.reduce(_ unionByName _)
    }
    val probeFps = probe.select(col(hashCol).as("fp")).distinct()
    val indexFps = index.select(col(indexHashCol).as("fp")).distinct()
    val matchedFps = keyed(probeFps).as("a")
      .join(keyed(indexFps).as("b").hint("shuffle_hash"),
        col("a.t") === col("b.t") && col("a.k") === col("b.k"))
      .filter(expr("bit_count(a.fp ^ b.fp)") <= maxDist)
      .select(col("a.fp").as("fp")).distinct()
    probe.join(matchedFps, probe(hashCol) === matchedFps("fp"), "left_semi")
      .select(col(idCol))
  }

  /** The multi-consumer (idCol, hashCol) projection behind the Hamming
    * banding entrypoints — materialized ONLY when the input frame is
    * not already persisted: the fingerprint frames the library shares
    * across queries arrive cached, and re-checkpointing a pure column
    * rename of cached blocks paid one materialization job per call for
    * nothing (round-16 optimization; plan values identical). */
  private def shProjection(hashes: DataFrame, idCol: String,
      hashCol: String): DataFrame = {
    val pre = hashes.select(col(idCol).as("doc_id"),
      col(hashCol).as("simhash"))
    if (hashes.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      pre
    else graft.operators.Materialized(pre)
  }

  def hammingPairsWide(hashes: DataFrame, idCol: String, hashCol: String,
      maxDist: Int, chunkBits: Int, numChunks: Int = 4): DataFrame = {
    require(maxDist >= 0 && maxDist <= numChunks - 1,
      s"maxDist must be in [0, ${numChunks - 1}] for exact recall")
    require(chunkBits * numChunks <= 64, "fingerprint must fit a long")
    val sh = shProjection(hashes, idCol, hashCol)
    val fps = sh.select(col("simhash")).distinct()
    expandToDocPairs(sh,
      wideFpairs(fps, maxDist, chunkBits, numChunks, strict = false))
  }

  /** Qualifying DISTINCT-fingerprint pairs within Hamming `maxDist` via
    * the Manku wide combination keys (the shared core of
    * [[hammingPairsWide]] and [[hammingEdgesWide]]). `strict` drops the
    * fa = fb diagonal (identical-fingerprint groups), which the edge
    * formulation covers with star edges instead. */
  private def wideFpairs(fps: DataFrame, maxDist: Int, chunkBits: Int,
      numChunks: Int, strict: Boolean): DataFrame = {
    val mask = (1L << chunkBits) - 1
    val combos = (0 until numChunks).combinations(numChunks - maxDist)
      .toSeq.zipWithIndex
    val keyed = combos.map { case (chunkIdxs, comboId) =>
      val key = chunkIdxs.zipWithIndex.map { case (c, pos) =>
        expr(s"((simhash >> (${chunkBits * c})) & ${mask}L) << ${chunkBits * pos}")
      }.reduce(_ + _)
      fps.select(col("simhash"), lit(comboId).as("t"), key.as("k"))
    }.reduce(_ unionByName _)
    val cmp = if (strict) col("a.simhash") < col("b.simhash")
      else col("a.simhash") <= col("b.simhash")
    keyed.as("a").join(keyed.as("b").hint("shuffle_hash"),
        col("a.t") === col("b.t") && col("a.k") === col("b.k") && cmp)
      .select(col("a.simhash").as("fa"), col("b.simhash").as("fb"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /**
   * Connectivity-equivalent EDGE frame for [[hammingPairsWide]] — the
   * dup-dense-corpus formulation of the fingerprint dedup end state.
   *
   * [[hammingPairsWide]] materializes every qualifying doc pair, which
   * is k²/2 rows for a group of k documents sharing one fingerprint —
   * the right output when the PAIRS are the product (audit queries,
   * pair reports), but a latent memory hazard when the consumer is
   * connected components, which only needs CONNECTIVITY (a 100×
   * dup-dense audio ladder produced a ~10⁸-row pair frame from exactly
   * this expansion). This variant emits a frame with identical
   * transitive closure in **linear** row count:
   *
   *  - identical-fingerprint groups become STAR edges — the group's
   *    min doc id to each other member, k−1 rows per group;
   *  - each qualifying DISTINCT-fingerprint pair (Hamming 1..maxDist)
   *    becomes ONE representative edge between the two groups' min doc
   *    ids — both groups are already internally star-connected, so one
   *    bridge connects them entirely.
   *
   * Total rows = (fingerprinted docs − distinct fingerprints) +
   * |qualifying fingerprint pairs| — proportional to docs plus the
   * distinct-fingerprint match volume, never to group size². Components
   * (and therefore keepers) from [[ConnectedComponents.label]] are
   * identical to feeding it the full pair frame, so corpus end-state
   * oracles are unchanged. Output: (doc_a, doc_b), doc_a < doc_b.
   *
   * Documents may carry MULTIPLE fingerprint rows (e.g. windowed audio
   * fingerprints): groups then share members and the representative
   * guard (`ra =!= rb`) drops degenerate self-bridges.
   */
  def hammingEdgesWide(hashes: DataFrame, idCol: String, hashCol: String,
      maxDist: Int, chunkBits: Int, numChunks: Int = 4): DataFrame = {
    require(maxDist >= 0 && maxDist <= numChunks - 1,
      s"maxDist must be in [0, ${numChunks - 1}] for exact recall")
    require(chunkBits * numChunks <= 64, "fingerprint must fit a long")
    val sh = shProjection(hashes, idCol, hashCol)
    // per-fingerprint representative: the group's min doc id
    val rep = sh.groupBy("simhash").agg(min(col("doc_id")).as("rep"))
    val stars = sh.join(rep, "simhash")
      .where(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    val fpairs = wideFpairs(sh.select(col("simhash")).distinct(),
      maxDist, chunkBits, numChunks, strict = true)
    val bridges = fpairs
      .join(rep.select(col("simhash").as("fa"), col("rep").as("ra")), "fa")
      .join(rep.select(col("simhash").as("fb"), col("rep").as("rb")), "fb")
      .where(col("ra") =!= col("rb"))
      .select(least(col("ra"), col("rb")).as("doc_a"),
        greatest(col("ra"), col("rb")).as("doc_b"))
      .distinct()
    // no distinct over the union: stars are unique per (fingerprint,
    // member) and a bridge's endpoints carry different fingerprints, so
    // the two sets cannot overlap when each doc has one fingerprint;
    // with multi-fingerprint docs ConnectedComponents tolerates
    // duplicate edges anyway (label propagation is idempotent).
    stars.unionByName(bridges)
  }
}
