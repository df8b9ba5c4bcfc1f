package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * The reference engine's scalar "expression library" re-expressed as pure
 * Catalyst built-in compositions (`Column => Column`) — no UDFs, so every
 * function stays inside whole-stage codegen and predicates on their outputs
 * remain optimizable.
 *
 * Reference semantics (all citations into /root/reference/):
 *  - normalize_company_name   src/common/utils.py:43-86
 *  - clean_text               src/common/utils.py:89-117
 *  - extract_domain           src/common/utils.py:120-147
 *  - generate_blocking_key    src/common/utils.py:164-180
 *  - extract_company/industry src/common/utils.py:183-243
 *  - format_abn / clean_abn   src/common/utils.py:246-267, clean_abr.py:118-130
 *  - clean_company_name/industry  src/transform/clean_commoncrawl.py:80-162
 *  - clean_entity_* / status / state / postcode  src/transform/clean_abr.py:133-225
 *  - multi-format date        src/ingest/parse_abr.py:219-240
 */
object Text {

  /** Stopwords removed during company-name normalization (utils.py:15-19).
    * `&` is omitted from the regex because punctuation is already stripped
    * to spaces before stopword removal. AUSTRALIAN precedes AUSTRALIA so the
    * alternation is unambiguous for both Java regex and RE2 oracles. */
  val CompanyStopwords: Seq[String] = Seq(
    "PTY", "LTD", "LIMITED", "PROPRIETARY", "AUSTRALIAN", "AUSTRALIA",
    "HOLDINGS", "GROUP", "SERVICES", "CORPORATION", "CORP", "INC", "CO",
    "THE", "AND", "OF")

  private val stopwordRe = "\\b(" + CompanyStopwords.mkString("|") + ")\\b"

  /** Collapse runs of whitespace to single spaces and trim. */
  def collapseWs(c: Column): Column = trim(regexp_replace(c, "\\s+", " "))

  /** normalize_company_name: upper → punctuation→space → drop stopwords →
    * collapse → trim; null → "" (utils.py:43-86). */
  def normalizeName(c: Column): Column = {
    val up = upper(coalesce(c, lit("")))
    val noPunct = regexp_replace(up, "[^\\w\\s]", " ")
    val noStop = regexp_replace(noPunct, stopwordRe, " ")
    collapseWs(noStop)
  }

  /** clean_text: strip HTML tags, URLs, emails, exotic chars; collapse;
    * null → "" (utils.py:89-117). */
  def cleanText(c: Column): Column = {
    var t: Column = coalesce(c, lit(""))
    t = regexp_replace(t, "<[^>]+>", " ")
    t = regexp_replace(t, "http[s]?://\\S+", " ")
    t = regexp_replace(t, "\\S+@\\S+", " ")
    t = regexp_replace(t, "[^\\w\\s.,!?-]", " ")
    collapseWs(t)
  }

  /** extract_domain: host of the URL, `www.` stripped, lowercased; "" when
    * not URL-shaped (utils.py:120-147). Implemented with the same regex the
    * DuckDB oracle uses so both engines agree byte-for-byte. */
  def extractDomain(c: Column): Column = {
    val host = regexp_extract(coalesce(c, lit("")), "://([^/?#]+)", 1)
    lower(regexp_replace(host, "^www\\.", ""))
  }

  /** is_australian_domain: extracted domain ends with `.au` (utils.py:150-161). */
  def isAustralianDomain(c: Column): Column =
    extractDomain(c).endsWith(".au")

  /** generate_blocking_key over an ALREADY-normalized name: first `n` chars,
    * lowercased; short names pass through whole (utils.py:164-180). */
  def blockKey(normalized: Column, n: Int = 4): Column =
    lower(substring(normalized, 1, n))

  /** extract_company_from_text: first of 4 AU-company regexes whose trimmed
    * group-1 capture is 3..100 chars (utils.py:183-212). */
  def extractCompanyFromText(c: Column): Column = {
    val patterns = Seq(
      "([A-Z][A-Za-z0-9&,.\\s]+(?:Pty|PTY)[\\s.]*(?:Ltd|LTD|Limited))",
      "([A-Z][A-Za-z0-9&,.\\s]+(?:Ltd|LTD|Limited))",
      "([A-Z][A-Za-z0-9&,.\\s]+Australia(?:\\s+(?:Pty|PTY))?(?:\\s+(?:Ltd|LTD))?)",
      "(?:About|Company|Welcome to)\\s+([A-Z][A-Za-z0-9&,.\\s]{3,50})")
    firstValidExtract(c, patterns, minLen = 3, maxLen = 100)
  }

  /** extract_industry_from_text: Industry:/Sector:/Specializ(e|ing) in,
    * trimmed capture 3..50 chars (utils.py:215-243). */
  def extractIndustryFromText(c: Column): Column = {
    val patterns = Seq(
      "[Ii]ndustry[:\\s]+([A-Za-z\\s&]+)",
      "[Ss]ector[:\\s]+([A-Za-z\\s&]+)",
      "[Ss]pecializ(?:e|ing) in ([A-Za-z\\s&]+)")
    firstValidExtract(c, patterns, minLen = 3, maxLen = 50)
  }

  private def firstValidExtract(
      c: Column, patterns: Seq[String], minLen: Int, maxLen: Int): Column = {
    val candidates = patterns.map { p =>
      val t = trim(regexp_extract(c, p, 1))
      when(length(t).between(minLen, maxLen), t)
    }
    coalesce(candidates: _*)
  }

  /** Digits only (utils.py strips `\D`). */
  def digitsOnly(c: Column): Column =
    regexp_replace(coalesce(cast2str(c), lit("")), "\\D", "")

  private def cast2str(c: Column): Column = c.cast("string")

  /** format_abn: 11-digit → "XX XXX XXX XXX", otherwise the bare digits;
    * null → "" (utils.py:246-267). */
  def formatAbn(c: Column): Column = {
    val d = digitsOnly(c)
    when(length(d) === 11,
      concat_ws(" ",
        substring(d, 1, 2), substring(d, 3, 3),
        substring(d, 6, 3), substring(d, 9, 3)))
      .otherwise(d)
  }

  /** clean_abn: digits only, exactly 11 → digits else null (clean_abr.py:118-130). */
  def cleanAbn(c: Column): Column = {
    val d = digitsOnly(c)
    when(length(d) === 11, d)
  }

  /** clean_company_name: trim/collapse, strip noise affixes, null unless
    * 2..200 chars (clean_commoncrawl.py:80-115). */
  def cleanCompanyName(c: Column): Column = {
    var t = collapseWs(c)
    val noise = Seq(
      "(?i)^welcome to\\s+",
      "(?i)^about\\s+",
      "(?i)^home\\s*[-–]\\s*",
      "(?i)\\s*[-–]\\s*home$",
      "(?i)\\s*\\|\\s*official.*$")
    noise.foreach { p => t = regexp_replace(t, p, "") }
    t = trim(t)
    when(length(t).between(2, 200), t)
  }

  /** Industry canonicalization patterns (clean_commoncrawl.py:137-154);
    * evaluated in order against the lowercased industry. */
  val IndustryMap: Seq[(String, String)] = Seq(
    "it|tech|software|digital" -> "Information Technology",
    "finance|bank|accounting" -> "Financial Services",
    "health|medical|pharma" -> "Healthcare",
    "retail|shop|store" -> "Retail",
    "construction|building" -> "Construction",
    "mining|resources" -> "Mining & Resources",
    "manufact" -> "Manufacturing",
    "transport|logistics" -> "Transport & Logistics",
    "education|training|school" -> "Education",
    "legal|law" -> "Legal Services",
    "real estate|property" -> "Real Estate",
    "agricult|farm" -> "Agriculture",
    "energy|power|electricity" -> "Energy",
    "telecom" -> "Telecommunications",
    "hospitality|hotel|restaurant" -> "Hospitality")

  /** clean_industry: strip Industry:/Sector:/Service(s) prefix, map to a
    * canonical industry by regex search, else title-cased first 50 chars;
    * null in → null out (clean_commoncrawl.py:118-162). */
  def cleanIndustry(c: Column): Column = {
    val stripped =
      regexp_replace(trim(c), "(?i)^(industry|sector|services?)[\\s:]+", "")
    val lowered = lower(stripped)
    val mapped = IndustryMap.foldLeft(when(lit(false), lit(""))) {
      case (acc, (pat, std)) => acc.when(lowered.rlike(pat), lit(std))
    }
    when(c.isNotNull && trim(c) =!= "",
      coalesce(mapped, substring(initcap(stripped), 1, 50)))
  }

  /** Acronyms kept uppercase by clean_entity_name (clean_abr.py:146). */
  private val KeepUpper = Seq(
    "PTY", "LTD", "LIMITED", "NSW", "VIC", "QLD", "SA", "WA", "TAS",
    "NT", "ACT", "ABN", "ACN")

  /** clean_entity_name: trim/collapse, strip "AS TRUSTEE…", smart
    * title-case when the name is all-caps (acronyms preserved), truncate to
    * 200 (clean_abr.py:133-160). */
  def cleanEntityName(c: Column): Column = {
    val base = regexp_replace(collapseWs(c), "(?i)\\s+AS\\s+TRUSTEE.*$", "")
    // Python isupper(): has at least one letter and no lowercase letters.
    val isAllCaps = base.rlike("[A-Z]") && !base.rlike("[a-z]")
    val titled = array_join(
      transform(split(base, " "), w =>
        when(w.isInCollection(KeepUpper), w).otherwise(initcap(lower(w)))),
      " ")
    val out = substring(when(isAllCaps, titled).otherwise(base), 1, 200)
    when(out.isNotNull && out =!= "", out)
  }

  /** Entity-type code → description (clean_abr.py:19-28); unknown codes pass
    * through stripped-upper (clean_abr.py:163-170). */
  val EntityTypeMap: Map[String, String] = Map(
    "PRV" -> "Private Company",
    "PUB" -> "Public Company",
    "IND" -> "Individual/Sole Trader",
    "TRT" -> "Trust",
    "PNR" -> "Partnership",
    "SGE" -> "State Government Entity",
    "CGE" -> "Commonwealth Government Entity",
    "OIE" -> "Other Incorporated Entity")

  def cleanEntityType(c: Column): Column = {
    val code = upper(trim(c))
    coalesce(element_at(typedlit(EntityTypeMap), code), code)
  }

  /** clean_status: contains active/registered → Active (note: this makes
    * "deregistered" Active — a reference behavior we preserve; Python is
    * authoritative, clean_abr.py:173-185), cancel → Cancelled, else title. */
  def cleanStatus(c: Column): Column = {
    val s = lower(trim(c))
    when(c.isNull, lit(null).cast("string"))
      .when(s.contains("active") || s.contains("registered"), "Active")
      .when(s.contains("cancel") || s.contains("deregistered"), "Cancelled")
      .otherwise(initcap(s))
  }

  val ValidStates: Seq[String] =
    Seq("NSW", "VIC", "QLD", "SA", "WA", "TAS", "NT", "ACT")

  private val StateMap: Map[String, String] = Map(
    "NEW SOUTH WALES" -> "NSW", "VICTORIA" -> "VIC", "QUEENSLAND" -> "QLD",
    "SOUTH AUSTRALIA" -> "SA", "WESTERN AUSTRALIA" -> "WA",
    "TASMANIA" -> "TAS", "NORTHERN TERRITORY" -> "NT",
    "AUSTRALIAN CAPITAL TERRITORY" -> "ACT")

  /** clean_state: upper/trim, full-name → code, whitelist else null
    * (clean_abr.py:188-212). */
  def cleanState(c: Column): Column = {
    val up = upper(trim(c))
    val mapped = coalesce(element_at(typedlit(StateMap), up), up)
    when(mapped.isInCollection(ValidStates), mapped)
  }

  /** clean_postcode: first standalone 4-digit group, else null
    * (clean_abr.py:215-225). */
  def cleanPostcode(c: Column): Column = {
    val m = regexp_extract(cast2str(c), "\\b(\\d{4})\\b", 1)
    when(m =!= "", m)
  }

  /** Multi-format date parse → DateType (parse_abr.py:219-240). Uses try_*
    * so the expression is safe under ANSI mode. */
  def parseDateMulti(c: Column): Column = coalesce(
    Seq("yyyyMMdd", "yyyy-MM-dd", "dd/MM/yyyy", "yyyy/MM/dd", "dd-MM-yyyy")
      .map(f => try_to_date(c, f)): _*)

  /** Jaccard similarity of distinct lowercase whitespace tokens — pure
    * built-ins, fully oracle-expressible (entity_match.py:236-250). */
  def jaccardTokens(c1: Column, c2: Column): Column = {
    def toks(c: Column): Column =
      array_distinct(filter(split(lower(c), "\\s+"), w => w =!= ""))
    val t1 = toks(c1)
    val t2 = toks(c2)
    val inter = size(array_intersect(t1, t2))
    val uni = size(t1) + size(t2) - inter
    when(uni === 0, lit(0.0)).otherwise(inter.cast("double") / uni)
  }

  /** Completeness = mean of non-null indicators over `cols`
    * (int_matched_companies.sql:52-59). */
  def completenessScore(cols: Seq[Column]): Column =
    cols.map(c => when(c.isNotNull, 1).otherwise(0))
      .reduce(_ + _).cast("double") / lit(cols.size.toDouble)

  /** Confidence bucket (int_matched_companies.sql:46-50). */
  def confidenceBucket(score: Column,
      hi: Double = 0.90, lo: Double = 0.75): Column =
    when(score >= hi, "High").when(score >= lo, "Medium").otherwise("Low")
}
