package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar text / time expressions (SURVEY.md §2.7).
  *
  * All are `Column => Column` built from codegen'd built-ins — they stay inside
  * WholeStageCodegen, no UDF/serialization cost, and remain visible to Catalyst
  * for constant folding and pushdown.
  */
object TextFunctions {

  /** Regex URL removal (reference `re.sub(r'https?://\S+','',c)`,
    * `Data Analysis/Reddit_4chan_Analysis.py:55-57`). */
  def stripUrls(c: Column): Column =
    regexp_replace(c, "https?://\\S+", "")

  /** Strip non-alphanumerics then lowercase (reference
    * `Data Analysis/Reddit_4chan_Analysis.py:61`). */
  def normalizeText(c: Column): Column =
    lower(regexp_replace(c, "[^a-zA-Z0-9\\s]", ""))

  /** PII scrubbing for training corpora: redact emails, international-ish
    * phone numbers and IPv4 addresses with typed placeholders — the standard
    * pre-training hygiene pass. Pure codegen'd regexp chain; the patterns are
    * deliberately conservative (precision over recall) so legitimate numbers
    * aren't destroyed. Order matters: emails first (their domains would
    * otherwise partially match the phone pattern's digit runs). */
  def scrubPii(c: Column): Column = {
    val noEmail = regexp_replace(c, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val noIp = regexp_replace(noEmail,
      "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>")
    regexp_replace(noIp, "\\+?\\d[\\d\\s().-]{7,}\\d", "<PHONE>")
  }

  /** Repetition ratio (C4/Gopher-style quality signal): 1 − |distinct
    * tokens| / |tokens|, in [0, 1). High values mean boilerplate/spam. */
  def repetitionRatio(c: Column): Column = {
    val toks = split(lower(c), "\\s+")
    Num.roundz(lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks), 4)
  }

  /** HTML → text: drop tags, unescape the entities the reference handles, drop
    * 4chan `>>123` quote markers and leading `>` quotes (reference BeautifulSoup
    * + unescape chain, `Data Collection/chan4.py:56-62`). Pure regexp chain —
    * covers the reference's observed cases without a UDF.
    */
  def htmlToText(c: Column): Column = {
    val noTags = regexp_replace(c, "<[^>]+>", "")
    val unescaped = Seq(
      "&gt;" -> ">", "&lt;" -> "<", "&quot;" -> "\"",
      "&#039;" -> "'", "&amp;" -> "&" // &amp; last, as in real unescaping order
    ).foldLeft(noTags) { case (acc, (ent, lit)) => regexp_replace(acc, ent, lit) }
    val noQuoteRefs = regexp_replace(unescaped, ">>\\d+", "")
    regexp_replace(noQuoteRefs, "^>+", "")
  }

  /** Epoch seconds → timestamp (reference `datetime.utcfromtimestamp`,
    * `Data Collection/Reddit.py:81`). */
  def epochToTs(c: Column): Column = timestamp_seconds(c)

  /** ISO-8601 `...Z` parse (reference strips the trailing Z then
    * `fromisoformat`, `Data Collection/Youtube_final.py:59`). `try_` variant:
    * malformed rows parse to null instead of failing the job under ANSI mode
    * — the reference's collectors silently tolerate junk rows, so must we. */
  def isoParse(c: Column): Column =
    try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ss'Z'"))

  /** Timestamp → `YYYY-MM-DD` (reference `TO_CHAR(ts::date,'YYYY-MM-DD')`,
    * `Analysis Dashboard/app.py:105`). */
  def dayString(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** 4chan free-text timestamp `MM/DD/YY(Day)HH:MM:SS` (stored as text,
    * `Data Collection/chan4.py:81`; date-cast in queries, `app.py:105`).
    * The embedded day-name is dropped rather than validated — parse the
    * date/time fields only, keep the raw string column alongside at rest. */
  def chanTimestamp(c: Column): Column =
    try_to_timestamp(regexp_replace(c, "\\(\\w+\\)", " "), lit("MM/dd/yy HH:mm:ss"))

  /** JSON field with default (reference `.get('score', 0)`,
    * `Data Collection/Reddit.py:115`). */
  def jsonGetLong(c: Column, field: String, default: Long): Column =
    coalesce(get_json_object(c, s"$$.$field").cast("long"), lit(default))
}
