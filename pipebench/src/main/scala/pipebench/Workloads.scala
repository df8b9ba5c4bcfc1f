package pipebench

import graft.dedup.{ConnectedComponents, TextDedup}
import graft.etl.{Clean, Golden, Match, Quality, Schemas, Stats}
import graft.io.ParquetSink
import graft.operators.{Merge, Scd2}
import graft.text.LogisticRegression
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** What one measured unit of work (one whole chain) produced: input
  * rows, the generated inputs it read and the outputs it wrote
  * (name → path). */
final case class RepOut(rows: Long, inputs: Seq[String], outputs: Seq[(String, String)])

/**
 * One benchmark workload. A run calls `generate` (twice, as the generator
 * self-check), `load` once, `setup` several times, then `rep` for
 * the warm-up and measured units, and `check` on the last unit.
 *
 * Units repeat identical work on the same inputs, so only the last
 * measured unit is checked; the outputs of earlier units are released
 * unchecked.
 */
trait Workload {
  def env: Env
  /** Generate the inputs from the seed, in memory; returns their digest. */
  def generate(): Long
  /** Write the generated inputs under `dir`: raw parquet plus the planted
    * truth. Untimed: this is the benchmark's work, not the library's. */
  def load(dir: String): Unit
  /** The library's share of set-up: build the state the units read from
    * the loaded inputs, under `dir`. Timed as `setup_s`. */
  def setup(dir: String): Unit
  /** One measured unit: the workload's whole chain. */
  def rep(i: Int, tr: Tracer): RepOut
  /** Counts for the per-layer report, read back from what a traced unit
    * wrote once its timer has stopped. */
  def info(out: RepOut): Map[String, Double] = Map.empty
  /** Verify a unit's outputs (untimed); returns failure messages. */
  def check(out: RepOut): Seq[String]
  /** (precision, recall) of the checked unit against the planted truth. */
  var quality: (Double, Double) = (0.0, 0.0)
  /** Output digests of the checked unit, for cross-commit identity checks. */
  val digests: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap()

  /** Delete what unit `out` wrote. */
  def release(out: RepOut): Unit = out.outputs.foreach(o => env.rm(o._2))
}

object Workload {
  val Names: Seq[String] = Seq("etl_bulk", "corpus_dedup")

  def apply(name: String, env: Env, seed: Long): Workload = name match {
    case "etl_bulk" => new EtlBulk(env, seed)
    case "corpus_dedup" => new CorpusDedup(env, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }

  def ratio(a: Long, b: Long): Double = if (b == 0) 0.0 else a.toDouble / b
}

/** The ABR entity dimension the load step keeps as SCD2 history. */
object AbrDim {
  val Key: Seq[String] = Seq("abn")
  val Attrs: Seq[String] = Seq("name", "status", "state", "postcode")

  def snapshot(abr: DataFrame): DataFrame = abr.select(
    col("abn_clean").as("abn"), col("clean_name").as("name"),
    col("status_std").as("status"), col("state_std").as("state"),
    col("postcode_std").as("postcode"))

  /** Rows that differ between the open versions of `history` and the
    * snapshot of `abr` (0 when the history is current). Two jobs. */
  def staleRows(history: DataFrame, abr: DataFrame): Long = {
    val cur = snapshot(abr)
    val open = history.filter(col("valid_to").isNull).select((Key ++ Attrs).map(col): _*)
    cur.exceptAll(open).count() + open.exceptAll(cur).count()
  }

  /** Audit extras of a history: open versions and distinct open keys. */
  def openCounts: Seq[(String, Column)] = {
    val isOpen = col("valid_to").isNull
    Seq("open" -> count(when(isOpen, 1)),
      "open_keys" -> countDistinct(when(isOpen, col("abn"))))
  }
}

/**
 * `etl_bulk`: the reference run once per unit over generated raw ABR and
 * web parquet: clean both sides → blocked fuzzy match → golden records →
 * statistics and quality → load → partitioned writes. Each stage's
 * output is written and read back, as a staged batch pipeline does. The
 * load step upserts today's cleaned ABR into the previous run's ABR table
 * and folds it into the previous run's SCD2 entity history; set-up
 * bootstraps both from the previous extract.
 */
final class EtlBulk(val env: Env, seed: Long) extends Workload {
  import env._
  import AbrDim._

  val Shape: Gen.EtlShape = Gen.EtlShape(abrRows = 12000, webRows = 3000,
    leads = 50, zipfS = 0.6)

  private var g: Gen.EtlInputs = _
  private var in, state: String = _
  private var truth: Map[String, String] = Map.empty

  def generate(): Long = {
    g = Gen.etl(seed, Shape)
    truth = g.truth.collect { case Seq(u: String, a: String) => u -> a }.toMap
    g.digest
  }

  def load(dir: String): Unit = {
    in = dir
    writeRows(g.abr, Schemas.abrEntitiesRaw, s"$dir/raw_abr")
    writeRows(g.web, Schemas.webCompaniesRaw, s"$dir/raw_web")
    writeRows(g.previous, Schemas.abrEntitiesRaw, s"$dir/raw_abr_previous")
    writeTruth(g.truth, s"$dir/truth.tsv")
  }

  /** The previous run's outputs: its cleaned ABR table and the SCD2
    * history bootstrapped from it. */
  def setup(dir: String): Unit = {
    state = dir
    val prev = Clean.abr(read(s"$in/raw_abr_previous")).filter(col("is_valid_abn"))
    ParquetSink.writePartitioned(prev, s"$dir/abr_table", Seq("state_std"))
    Scd2.init(snapshot(read(s"$dir/abr_table")), Key, Attrs, 0L)
      .write.parquet(s"$dir/abr_history")
  }

  def rep(i: Int, tr: Tracer): RepOut = {
    val out = path("out", s"unit$i")
    val web = tr.output("etl.clean_web")(Clean.web(read(s"$in/raw_web")))
    tr.span("io.write")(web.write.parquet(s"$out/web_clean"))
    val abr = tr.output("etl.clean_abr")(
      Clean.abr(read(s"$in/raw_abr")).filter(col("is_valid_abn")))
    tr.span("io.write")(abr.write.parquet(s"$out/abr_clean"))
    val webS = read(s"$out/web_clean")
    val abrS = read(s"$out/abr_clean")
    val matches = tr.output("etl.match")(Match.run(webS, abrS))
    tr.span("io.write")(matches.write.parquet(s"$out/matches"))
    val matchesS = read(s"$out/matches")
    val dim = tr.output("etl.golden")(Golden.dimCompanies(
      Golden.matchedCompanies(matchesS, webS, abrS), abrS))
    tr.span("io.write")(ParquetSink.writePartitioned(dim, s"$out/dim", Seq("state")))
    val stats = tr.output("etl.stats")(Stats.matchStatistics(webS, abrS, matchesS)
      .crossJoin(Quality.report(read(s"$out/dim"))))
    tr.span("io.write")(stats.write.parquet(s"$out/stats"))
    val table = tr.output("operators.upsert")(
      Merge.upsert(read(s"$state/abr_table"), abrS, Seq("abn_clean")))
    tr.span("io.write")(ParquetSink.writePartitioned(table, s"$out/abr_table", Seq("state_std")))
    val history = tr.output("operators.scd2")(Scd2.merge(read(s"$state/abr_history"),
      snapshot(abrS), Key, Attrs, 1L))
    tr.span("io.write")(history.write.parquet(s"$out/abr_history"))
    RepOut(g.abr.size + g.web.size, Seq(s"$in/raw_web", s"$in/raw_abr"), Seq("web_clean",
      "abr_clean", "matches", "dim", "stats", "abr_table", "abr_history")
      .map(o => o -> s"$out/$o"))
  }

  override def info(o: RepOut): Map[String, Double] = {
    val outs = o.outputs.toMap
    Map("candidate_pairs" ->
      candidatePairs(read(outs("web_clean")), read(outs("abr_clean"))).toDouble,
      "matches" -> read(outs("matches")).count().toDouble)
  }

  private val QualityCounts = Seq("duplicate_abns", "invalid_confidence",
    "bad_status", "bad_state", "bad_source")
  /** Intermediate outputs: read by later stages, not audited. */
  private val Staged = Set("web_clean", "abr_clean")

  def check(o: RepOut): Seq[String] = {
    val f = mutable.ArrayBuffer[String]()
    val outs = o.outputs.toMap
    val a = o.outputs.filterNot(x => Staged(x._1)).map { case (name, p) =>
      name -> audit(read(p), (name match {
        case "dim" => Seq("keys" -> countDistinct(col("abn")),
          "bad" -> Env.outsideUnit(col("match_confidence_score")))
        case "matches" => Seq("keys" -> countDistinct(col("crawl_url")),
          "bad" -> (Env.outsideUnit(col("fuzzy_score")) +
            Env.outsideUnit(col("final_score"))))
        case "stats" => ("total_matches" +: QualityCounts).map(c => c -> sum(col(c)))
        case "abr_table" => Seq("keys" -> countDistinct(col("abn_clean")))
        case "abr_history" => openCounts
        case _ => Nil
      }): _*)
    }.toMap
    val dim = a("dim")
    if (dim.rows != dim.extra("keys")) f += s"dim has ${dim.rows - dim.extra("keys")} duplicate abn rows"
    if (dim.extra("bad") > 0) f += s"dim has ${dim.extra("bad")} confidence scores outside [0,1]"
    val m = a("matches")
    if (m.rows != m.extra("keys")) f += s"matches has ${m.rows - m.extra("keys")} crawl_url values matched twice"
    if (m.extra("bad") > 0) f += s"matches has ${m.extra("bad")} scores outside [0,1]"
    QualityCounts.foreach { c =>
      if (a("stats").extra(c) != 0) f += s"quality report: $c = ${a("stats").extra(c)}"
    }
    if (a("stats").extra("total_matches") != m.rows)
      f += "stats total_matches disagrees with the matches output"
    val t = a("abr_table")
    if (t.rows != g.tableKeys || t.extra("keys") != g.tableKeys)
      f += s"ABR table has ${t.rows} rows / ${t.extra("keys")} keys, expected ${g.tableKeys}"
    val h = a("abr_history")
    if (h.extra("open") != g.companies || h.extra("open_keys") != g.companies)
      f += s"history has ${h.extra("open")} open versions of ${h.extra("open_keys")} keys, " +
        s"expected one for each of ${g.companies}"
    val stale = staleRows(read(outs("abr_history")), read(outs("abr_clean")))
    if (stale > 0) f += s"history: $stale open versions differ from today's ABR"
    val pred = read(outs("matches")).select("crawl_url", "abn").collect()
    val tp = pred.count(r => truth.get(r.getString(0)).contains(r.getString(1)))
    quality = (Workload.ratio(tp, pred.length), Workload.ratio(tp, truth.size))
    o.outputs.foreach { case (name, _) => a.get(name).foreach(x => digests(name) = x.digest) }
    f.toSeq
  }
}

/**
 * `corpus_dedup`: the training-data side, no ETL work. MinHash-LSH pairs
 * → connected components → one keeper per component by quality → a
 * logistic-regression quality model trained on the keepers → scores for
 * every document → partitioned write.
 */
final class CorpusDedup(val env: Env, seed: Long) extends Workload {
  import env._

  val Shape: Gen.CorpusShape = Gen.CorpusShape(docs = 1500, maxSize = 8)
  val Iters = 2
  /** Hashed gram cells of the quality model: enough that the planted
    * topic words are not drowned by common grams sharing their cells. */
  val Buckets = 2048

  private var g: Gen.Corpus = _
  private var in, state: String = _
  private var truth: Map[Long, Long] = Map.empty
  var accuracy = 0.0

  def generate(): Long = {
    g = Gen.corpus(seed, Shape)
    truth = g.cluster.map { case Seq(d: Long, c: Long) => d -> c }.toMap
    g.digest
  }

  def load(dir: String): Unit = {
    in = dir
    writeRows(g.docs, Env.Docs, s"$dir/raw_docs")
    writeTruth(g.cluster, s"$dir/truth.tsv")
  }

  /** Land the raw documents as the corpus table, clustered by doc_id, in
    * one file: at this size more files only add tasks to every stage. */
  def setup(dir: String): Unit = {
    state = dir
    ParquetSink.writeSortedBy(read(s"$in/raw_docs"), s"$dir/docs", Seq("doc_id"),
      numFiles = 1)
  }

  def rep(i: Int, tr: Tracer): RepOut = {
    val out = path("out", s"unit$i")
    val docs = read(s"$state/docs")
    val pairs = tr.output("dedup.lsh")(TextDedup.minhashLshPairs(docs, "text", "doc_id"))
    val labels = tr.output("dedup.cc")(
      ConnectedComponents.label(docs.select("doc_id"), pairs, "doc_a", "doc_b"))
    tr.span("io.write")(labels.write.parquet(s"$out/labels"))
    val keepers = tr.output("dedup.keepers")(TextDedup.keepersByQuality(
      docs, "doc_id", col("quality"), read(s"$out/labels")))
    tr.span("io.write")(keepers.write.parquet(s"$out/keepers"))
    val kept = docs.join(read(s"$out/keepers"), Seq("doc_id"), "left_semi")
    val label = col("label") === 1
    val weights = tr.output("text.lr_train")(LogisticRegression.trainWeights(
      kept, "text", "doc_id", label, buckets = Buckets, iters = Iters,
      trainBuckets = 10000))
    val pred = tr.output("text.predict")(LogisticRegression.predictWithWeights(
      docs, "text", "doc_id", label, weights, buckets = Buckets, trainBuckets = 0))
    tr.span("io.write") {
      weights.write.parquet(s"$out/weights")
      ParquetSink.writePartitioned(pred, s"$out/pred", Seq("label_pred"))
    }
    RepOut(g.docs.size, Seq(s"$state/docs"), Seq("labels", "keepers", "weights", "pred")
      .map(o => o -> s"$out/$o"))
  }

  override def info(o: RepOut): Map[String, Double] = Map("iters" -> Iters.toDouble)

  def check(o: RepOut): Seq[String] = {
    val f = mutable.ArrayBuffer[String]()
    val outs = o.outputs.toMap
    val docsN = g.docs.size.toLong
    val labels = read(outs("labels"))
    val a = o.outputs.map { case (name, p) =>
      name -> audit(read(p), (name match {
        case "labels" => Seq("nodes" -> countDistinct(col("node")),
          "components" -> countDistinct(col("component")))
        case "keepers" => Seq("keys" -> countDistinct(col("doc_id")))
        case "pred" => Seq("bad" -> Env.outsideUnit(col("prob")),
          "right" -> count(when(col("label_true") === col("label_pred"), 1)))
        case _ => Nil
      }): _*)
    }.toMap
    val l = a("labels")
    if (l.rows != docsN || l.extra("nodes") != docsN)
      f += s"labels cover ${l.extra("nodes")} distinct of $docsN documents in ${l.rows} rows"
    val comps = l.extra("components")
    // one keeper per component: as many keepers as components, and no
    // component holding two of them
    val kept = read(outs("keepers")).join(labels.withColumnRenamed("node", "doc_id"), "doc_id")
      .agg(countDistinct(col("component"))).head().getLong(0)
    val k = a("keepers")
    if (k.rows != comps || k.extra("keys") != comps || kept != comps)
      f += s"keepers: ${k.rows} rows for $comps components, covering $kept of them"
    val p = a("pred")
    if (p.extra("bad") > 0) f += s"${p.extra("bad")} probabilities outside [0,1]"
    if (p.rows != docsN) f += s"predictions for ${p.rows} of $docsN documents"
    // pairwise cluster precision/recall: pairs inside a predicted
    // component against pairs inside a planted cluster
    val got = labels.select("node", "component").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    def pairs(sizes: Iterable[Int]): Long = sizes.map(s => s.toLong * (s - 1) / 2).sum
    val tp = pairs(got.groupBy { case (d, c) => (c, truth(d)) }.values.map(_.length))
    quality = (Workload.ratio(tp, pairs(got.groupBy(_._2).values.map(_.length))),
      Workload.ratio(tp, pairs(truth.groupBy(_._2).values.map(_.size))))
    accuracy = Workload.ratio(p.extra("right"), p.rows)
    o.outputs.foreach { case (name, _) => a.get(name).foreach(x => digests(name) = x.digest) }
    f.toSeq
  }
}
