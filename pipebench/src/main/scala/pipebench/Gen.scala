package pipebench

import java.util.SplittableRandom
import scala.collection.mutable

/**
 * Seeded, single-process input generator. Everything the library sees is
 * produced here from `(seed, workload parameters)`; the same seed always
 * yields the same rows in the same order (see [[Gen.digest]]).
 *
 * Block sizes are allocated deterministically from a Zipf law, and the
 * seed only decides names, ids and perturbations. So the candidate-pair
 * count, the number of clusters and their shapes barely move between
 * seeds, and run time tracks the code, not the draw.
 */
object Gen {

  // ------------------------------------------------------------ primitives

  private val Consonants = "BCDFGHJKLMNPRSTVZ"
  private val Vowels = "AEIOU"
  private val Stopwords = graft.functions.Text.CompanyStopwords.toSet

  /** Pronounceable upper-case pseudo-word of `syl` CV/CVC syllables. */
  def word(r: SplittableRandom, syl: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < syl) {
      sb += Consonants(r.nextInt(Consonants.length))
      sb += Vowels(r.nextInt(Vowels.length))
      if (r.nextInt(3) == 0) sb += Consonants(r.nextInt(Consonants.length))
      i += 1
    }
    sb.toString
  }

  /** `n` distinct words of at least `minLen` letters whose first `prefix`
    * letters are pairwise distinct (so each opens its own block). */
  def distinctWords(r: SplittableRandom, n: Int, minLen: Int,
      prefix: Int): IndexedSeq[String] = {
    val seen = mutable.HashSet[String]()
    val out = IndexedSeq.newBuilder[String]
    var k = 0
    while (k < n) {
      val w = word(r, 2 + r.nextInt(2))
      val p = w.take(prefix)
      if (w.length >= minLen && !Stopwords(w) && seen.add(p)) { out += w; k += 1 }
    }
    out.result()
  }

  /** Zipf(s) shares over ranks 1..v. */
  def zipf(v: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(v)(k => math.pow(k + 1.0, -s))
    val z = w.sum
    w.map(_ / z)
  }

  /** Split `total` into per-rank counts following `shares` exactly
    * (largest remainders), independent of any random draw. */
  def allocate(total: Int, shares: Array[Double]): Array[Int] = {
    val raw = shares.map(_ * total)
    val c = raw.map(math.floor(_).toInt)
    val rest = total - c.sum
    raw.indices.sortBy(i => (-(raw(i) - c(i)), i)).take(rest).foreach(c(_) += 1)
    c
  }

  /** Order-sensitive 64-bit digest of generated rows (FNV-1a over the
    * fields), the input self-check: two generations from one seed must
    * agree. */
  def digest(rows: Iterator[Seq[Any]]): Long = {
    var h = 0xcbf29ce484222325L
    rows.foreach(_.foreach { f =>
      val s = String.valueOf(f)
      var i = 0
      while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
      h = (h ^ 0x1f) * 0x100000001b3L
    })
    h
  }

  def shuffle[T](r: SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  // ------------------------------------------------------------------ ABNs

  private val AbnWeights = Array(10, 1, 3, 5, 7, 9, 11, 13, 15, 17, 19)

  def abnValid(d: String): Boolean = d.length == 11 && {
    var s = 0
    var i = 0
    while (i < 11) {
      val v = d.charAt(i) - '0'
      s += (if (i == 0) v - 1 else v) * AbnWeights(i)
      i += 1
    }
    s % 89 == 0
  }

  /** A fresh checksum-valid ABN not yet in `used`. */
  def freshAbn(r: SplittableRandom, used: mutable.HashSet[String]): String = {
    while (true) {
      val tail = f"${r.nextLong(1000000000L)}%09d"
      val first = 10 + r.nextInt(90)
      var k = 0
      while (k < 90) {
        val a = s"${10 + (first - 10 + k) % 90}$tail"
        if (abnValid(a) && used.add(a)) return a
        k += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Same digits with the last one changed so the checksum fails. */
  def corruptAbn(a: String): String = {
    val last = a.charAt(10) - '0'
    (1 to 9).iterator.map(d => a.take(10) + ((last + d) % 10))
      .find(!abnValid(_)).get
  }

  def formatAbn(r: SplittableRandom, a: String): String =
    if (r.nextBoolean()) a
    else s"${a.take(2)} ${a.slice(2, 5)} ${a.slice(5, 8)} ${a.drop(8)}"

  // ------------------------------------------------------- ABR attributes

  private val Suffixes = IndexedSeq("PTY LTD", "PTY. LTD.", "LIMITED",
    "PTY LIMITED", "")
  private val States = IndexedSeq(
    "NSW" -> "2000", "VIC" -> "3000", "QLD" -> "4000", "SA" -> "5000",
    "WA" -> "6000", "TAS" -> "7000", "NT" -> "0800", "ACT" -> "2600")
  private val StateLong = Map("NSW" -> "New South Wales",
    "VIC" -> "Victoria", "QLD" -> "Queensland", "SA" -> "South Australia",
    "WA" -> "Western Australia", "TAS" -> "Tasmania",
    "NT" -> "Northern Territory", "ACT" -> "Australian Capital Territory")
  private val EntityTypes = graft.functions.Text.EntityTypeMap.keys.toIndexedSeq.sorted
  private val Industries = IndexedSeq("Industry: Mining", "software",
    "Sector: Construction", "retail store", "health services",
    "Transport and logistics", "legal", "farm produce", "energy",
    "hospitality", "Accounting")

  def stateText(r: SplittableRandom, st: String): String = r.nextInt(4) match {
    case 0 => st.toLowerCase
    case 1 => StateLong(st)
    case _ => st
  }

  def postcodeText(r: SplittableRandom, st: String, base: String): String = {
    val pc = f"${base.toInt + r.nextInt(99)}%04d"
    if (r.nextInt(4) == 0) s"$st $pc" else pc
  }

  def statusText(r: SplittableRandom, active: Boolean): String =
    if (active) IndexedSeq("Active", "ACTIVE", "Registered")(r.nextInt(3))
    else IndexedSeq("Cancelled", "CANCELLED")(r.nextInt(2))

  /** Start date in one of the five formats the cleaner parses. */
  def dateText(r: SplittableRandom): String = {
    val y = 1980 + r.nextInt(44)
    val m = 1 + r.nextInt(12)
    val d = 1 + r.nextInt(28)
    r.nextInt(5) match {
      case 0 => f"$y%04d$m%02d$d%02d"
      case 1 => f"$y%04d-$m%02d-$d%02d"
      case 2 => f"$d%02d/$m%02d/$y%04d"
      case 3 => f"$y%04d/$m%02d/$d%02d"
      case _ => f"$d%02d-$m%02d-$y%04d"
    }
  }

  /** One company: its core tokens (lead + two words) and legal suffix. */
  final case class Company(abn: String, lead: String, w2: String, w3: String,
      suffix: String) {
    def registeredName: String =
      Seq(lead, w2, w3, suffix).filter(_.nonEmpty).mkString(" ")
  }

  /** ABR raw row: abn, entity_name, entity_type, entity_status, state,
    * postcode, start_date. */
  def abrRow(r: SplittableRandom, abnText: String, name: String,
      active: Boolean): Seq[Any] = {
    val (st, pc) = States(r.nextInt(States.size))
    Seq(abnText, name, EntityTypes(r.nextInt(EntityTypes.size)),
      statusText(r, active),
      if (r.nextInt(40) == 0) null else stateText(r, st),
      if (r.nextInt(40) == 0) null else postcodeText(r, st, pc),
      dateText(r))
  }

  // ------------------------------------------------------ web perturbation

  private def typo(r: SplittableRandom, w: String): String = {
    // edits stay off the first letter so a typo alone never moves a block
    val i = 1 + r.nextInt(math.max(1, w.length - 1))
    val c = Consonants(r.nextInt(Consonants.length))
    r.nextInt(3) match {
      case 0 => w.take(i) + c + w.drop(i + 1)              // substitute
      case 1 if w.length > 4 => w.take(i) + w.drop(i + 1)  // delete
      case _ => w.take(i) + c + w.drop(i)                  // insert
    }
  }

  /** A perturbed public name for company `c`: each of reorder, typo and
    * suffix swap applies with fixed odds (at least one always does).
    * One reorder in eight moves the leading word, which changes the
    * blocking key: those records are findable only if blocking is
    * improved. */
  def perturb(r: SplittableRandom, c: Company): String = {
    var toks = IndexedSeq(c.lead, c.w2, c.w3)
    var suffix = c.suffix
    val kind = r.nextInt(3)
    if (kind == 0 || r.nextInt(4) == 0) {
      if (r.nextInt(8) == 0) toks = IndexedSeq(c.w2, c.lead, c.w3)
      else toks = IndexedSeq(c.lead, c.w3, c.w2)
    }
    if (kind == 1 || r.nextInt(4) == 0) {
      val j = 1 + r.nextInt(2)
      val at = toks.indexOf(Seq(c.w2, c.w3)(j - 1))
      toks = toks.updated(at, typo(r, toks(at)))
    }
    if (kind == 2 || r.nextInt(3) == 0) {
      val others = Suffixes.filterNot(_ == suffix)
      suffix = others(r.nextInt(others.size))
    }
    val core = (toks :+ suffix).filter(_.nonEmpty).mkString(" ")
    val cased = if (r.nextBoolean()) core
      else core.split(" ").map(t => t.head + t.tail.toLowerCase).mkString(" ")
    r.nextInt(6) match {
      case 0 => s"Welcome to $cased"
      case 1 => s"$cased - Home"
      case _ => cased
    }
  }

  def webRow(r: SplittableRandom, url: String, name: String): Seq[Any] = Seq(
    url, name, Industries(r.nextInt(Industries.size)),
    s"About $name. Serving customers across Australia since ${1980 + r.nextInt(44)}.")

  // ----------------------------------------------------------- etl inputs

  /** Raw ABR + web rows with planted truth: `truth` maps every web
    * crawl_url to the ABN it copies, or null for a non-match. `previous`
    * is the ABR extract of the run before: it lacks ~5% of today's
    * companies, has other attributes for ~1 in 7 of the rest, and holds
    * ~2% companies gone today. `companies` counts today's valid ABNs,
    * `tableKeys` the valid ABNs of both extracts together. */
  final case class EtlInputs(abr: IndexedSeq[Seq[Any]],
      web: IndexedSeq[Seq[Any]], truth: IndexedSeq[Seq[Any]],
      previous: IndexedSeq[Seq[Any]], tableKeys: Int, companies: Int) {
    def digest: Long =
      Gen.digest(abr.iterator ++ web.iterator ++ truth.iterator ++ previous.iterator)
  }

  /**
   * @param abrRows distinct companies (before ~2% invalid and ~3% duplicate rows)
   * @param webRows web records; 70% of them copy a valid company
   * @param leads   leading-word vocabulary size (one block per word)
   * @param zipfS   Zipf exponent of leading words over companies and pages
   */
  final case class EtlShape(abrRows: Int, webRows: Int, leads: Int, zipfS: Double)

  private val MatchShare = 0.7
  private val InvalidShare = 0.02
  private val DupShare = 0.03
  private val CancelledShare = 0.1

  def etl(seed: Long, shape: EtlShape): EtlInputs = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val leads = distinctWords(r, shape.leads, minLen = 5, prefix = 4)
    val shares = zipf(shape.leads, shape.zipfS)
    val perBlock = allocate(shape.abrRows, shares)
    val usedAbn = mutable.HashSet[String]()
    val usedName = mutable.HashSet[String]()
    var companies = 0
    val abr = IndexedSeq.newBuilder[Seq[Any]]
    val valid = Array.fill(shape.leads)(IndexedSeq.newBuilder[Company])
    // the previous extract draws from its own stream, so today's rows do
    // not depend on it
    val rp = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2)
    val previous = IndexedSeq.newBuilder[Seq[Any]]
    var gone = 0
    var url = 0
    perBlock.indices.foreach { b =>
      val n = perBlock(b)
      val invalid = math.round(n * InvalidShare).toInt
      val dups = math.round(n * DupShare).toInt
      (0 until n).foreach { i =>
        var c: Company = null
        while (c == null) {
          val cand = Company(freshAbn(r, usedAbn), leads(b), word(r, 2 + r.nextInt(2)),
            word(r, 2 + r.nextInt(2)), Suffixes(r.nextInt(Suffixes.size)))
          if (!Stopwords(cand.w2) && !Stopwords(cand.w3) &&
              usedName.add(s"${cand.lead} ${cand.w2} ${cand.w3}")) c = cand
        }
        val isValid = i >= invalid
        val active = r.nextDouble() >= CancelledShare
        val abnText = formatAbn(r, if (isValid) c.abn else corruptAbn(c.abn))
        val row = abrRow(r, abnText, c.registeredName, active)
        abr += row
        if (i >= n - dups) // a second filing: same ABN, punctuated suffix
          abr += abrRow(r, abnText, c.registeredName + ".", active)
        if (isValid) { valid(b) += c; companies += 1 }
        if (i % 20 != 19) // the rest are new today
          previous += (if (i % 7 == 3) abrRow(rp, abnText, c.registeredName, rp.nextBoolean())
            else row)
      }
      (0 until math.round(n * 0.02).toInt).foreach { _ =>
        var c: Company = null
        while (c == null) {
          val cand = Company(freshAbn(rp, usedAbn), leads(b), word(rp, 3), word(rp, 3), "PTY LTD")
          if (!Stopwords(cand.w2) && !Stopwords(cand.w3) &&
              usedName.add(s"${cand.lead} ${cand.w2} ${cand.w3}")) c = cand
        }
        previous += abrRow(rp, formatAbn(rp, c.abn), c.registeredName, active = true)
        gone += 1
      }
    }
    val copies = allocate(math.round(shape.webRows * MatchShare).toInt, shares)
    val others = allocate(shape.webRows - copies.sum, shares)
    val web = IndexedSeq.newBuilder[Seq[Any]]
    val truth = IndexedSeq.newBuilder[Seq[Any]]
    perBlock.indices.foreach { b =>
      val pool = shuffle(r, valid(b).result())
      pool.take(copies(b)).foreach { c =>
        url += 1
        val u = f"https://www.${c.lead.toLowerCase}$url%06d.com.au/about"
        web += webRow(r, u, perturb(r, c))
        truth += Seq(u, c.abn)
      }
      (0 until others(b)).foreach { _ =>
        url += 1
        val u = f"https://${leads(b).toLowerCase}$url%06d.example.com/"
        var name: String = null
        while (name == null) {
          val cand = s"${leads(b)} ${word(r, 3)} ${word(r, 2 + r.nextInt(2))}"
          if (usedName.add(cand)) name = cand
        }
        web += webRow(r, u, name)
        truth += Seq(u, null)
      }
    }
    EtlInputs(shuffle(r, abr.result()), shuffle(r, web.result()), truth.result(),
      shuffle(rp, previous.result()), companies + gone, companies)
  }

  // ---------------------------------------------------------------- corpus

  /** Documents (doc_id, text, label, quality) and the planted cluster of
    * every document. */
  final case class Corpus(docs: IndexedSeq[Seq[Any]], cluster: IndexedSeq[Seq[Any]]) {
    def digest: Long = Gen.digest(docs.iterator ++ cluster.iterator)
  }

  /**
   * @param docs     total documents
   * @param maxSize  largest planted near-duplicate cluster
   */
  final case class CorpusShape(docs: Int, maxSize: Int)

  /** Zipf vocabulary size and exponent of the body text. */
  private val Vocab = 6000
  private val VocabZipfS = 1.05
  private val DocLen = 60
  /** The number of clusters of size s falls as s^-ClusterSizeExp. */
  private val ClusterSizeExp = 1.6

  def corpus(seed: Long, shape: CorpusShape): Corpus = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 3)
    val vocab = distinctWords(r, Vocab, minLen = 3, prefix = 99).map(_.toLowerCase)
    val cum = zipf(Vocab, VocabZipfS).scanLeft(0.0)(_ + _).tail
    // quality signal: good documents lean on one topic list, poor ones on
    // another, so a linear model over grams can learn the label
    val goodTopic = distinctWords(r, 40, 3, 99).map(_.toLowerCase)
    val poorTopic = distinctWords(r, 40, 3, 99).map(_.toLowerCase)
    def token(good: Boolean): String =
      if (r.nextInt(4) == 0) (if (good) goodTopic else poorTopic)(r.nextInt(40))
      else {
        val i = java.util.Arrays.binarySearch(cum, r.nextDouble())
        vocab(math.min(if (i >= 0) i else -i - 1, vocab.size - 1))
      }
    def edit(t: Array[String], good: Boolean): Array[String] = {
      val c = t.clone()
      c(r.nextInt(c.length)) = token(good)
      c
    }
    // heavy-tailed cluster sizes, allocated deterministically: the
    // number of clusters of size s falls as s^-ClusterSizeExp
    val sizes = 2 to shape.maxSize
    val dupDocs = shape.docs / 3
    val perSize = allocate(dupDocs, sizes.map(s => math.pow(s, 1 - ClusterSizeExp)).toArray
      .map(x => x / sizes.map(s => math.pow(s, 1 - ClusterSizeExp)).sum))
    val clusterSizes = sizes.indices.flatMap { i =>
      Seq.fill(perSize(i) / sizes(i))(sizes(i))
    }
    val singletons = shape.docs - clusterSizes.sum
    // ids (and so the order of ids along every chain, which sets the
    // number of CC rounds) come from a fixed stream: the seed changes the
    // text, not the shape of the duplicate graph
    val layout = new SplittableRandom(0x5EED)
    val ids = shuffle(layout, (0 until shape.docs).map(i => 1000000L + i * 7L))
    val docs = IndexedSeq.newBuilder[Seq[Any]]
    val cluster = IndexedSeq.newBuilder[Seq[Any]]
    var next = 0
    def emit(toks: Array[String], good: Boolean, c: Int): Unit = {
      val id = ids(next); next += 1
      docs += Seq(id, toks.mkString(" "), if (good) 1 else 0,
        math.round(((if (good) 0.5 else 0.0) + r.nextDouble() * 0.5) * 1e4) / 1e4)
      cluster += Seq(id, c.toLong)
    }
    var c = 0
    clusterSizes.zipWithIndex.foreach { case (size, i) =>
      val good = r.nextBoolean()
      val base = Array.fill(DocLen)(token(good))
      if (i % 2 == 0) {
        // chain of successive edits: ends drift apart, so only the
        // transitive closure (connected components) joins them
        var cur = base
        (0 until size).foreach { _ => emit(cur, good, c); cur = edit(cur, good) }
      } else {
        emit(base, good, c)
        (1 until size).foreach { _ => emit(edit(edit(base, good), good), good, c) }
      }
      c += 1
    }
    (0 until singletons).foreach { _ =>
      val good = r.nextBoolean()
      emit(Array.fill(DocLen)(token(good)), good, c)
      c += 1
    }
    val d = docs.result()
    Corpus(shuffle(layout, d), cluster.result())
  }
}
