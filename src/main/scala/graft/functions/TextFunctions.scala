package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text functions for the graft engine.
  *
  * Re-expresses the reference's row-at-a-time Python regex helpers
  * (pasta-pipeline `dags/utils/utils.py:4-33`,
  * `dags/processors/telegraph_processor.py:128-146`) as codegen-friendly
  * Catalyst column expressions — pure map-side, no UDFs, no shuffle, so
  * they run inside whole-stage codegen at any scale.
  */
object TextFunctions {

  /** Hashtag pattern from the reference (utils.py:24): latin+cyrillic. */
  val HashtagPattern = "#([a-zA-Zа-яА-Я0-9_]+)"

  /** Telegraph link pattern from the reference (utils.py:8). */
  val TelegraphLinkPattern = """https://telegra\.ph/[^\s\n\])>_*}]+"""

  /** Generic http(s) URL pattern (same shape, any host). */
  val UrlPattern = """https?://[^\s\n\])>_*}]+"""

  /** Extract regex group 1 matches, lowercased, de-duplicated keeping
    * first occurrence (reference utils.py:20-33 `extract_hashtags`). */
  def extractTags(text: Column, pattern: String = HashtagPattern): Column =
    array_distinct(regexp_extract_all(lower(text), lit(pattern), lit(1)))

  /** Extract whole-match links, strip trailing punctuation, dedup
    * keeping first occurrence (reference utils.py:4-17). */
  def extractLinks(text: Column, pattern: String = TelegraphLinkPattern): Column =
    array_distinct(transform(
      regexp_extract_all(text, lit(pattern), lit(0)),
      l => regexp_replace(l, """[.,"'\*_]+$""", "")))

  /** MD5 content hash (reference telegraph_processor.py:128). Empty/null → "". */
  def contentHash(text: Column): Column =
    when(text.isNull || text === "", lit("")).otherwise(md5(text))

  /** Whitespace word count (reference telegraph_processor.py:142
    * `len(text.split())` — python split() drops empty strings):
    * counts \S+ runs, so leading tabs/newlines can't produce a
    * phantom empty token (property-tested against scala split). */
  def wordCount(text: Column): Column =
    when(text.isNull, lit(0)).otherwise(regexp_count(text, lit("\\S+")))

  /** Whitespace tokens (python str.split() semantics: no empties). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** BPE-ish subword token count: words, numbers, and single
    * non-space punctuation each count as one token (a common
    * pre-tokenizer regex, GPT-2 style simplified). */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit("""[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"""))

  /** Word n-gram shingles joined with a space. */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Character n-gram shingles. */
  def charShingles(text: Column, n: Int): Column = {
    val len = length(text)
    when(len < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(1), len - (n - 1)), i => substring(text, i, lit(n))))
  }

  /** Ratio of punctuation characters to total characters, rounded. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      round(regexp_count(text, lit("""[^a-zA-Z0-9\s]"""))
        .cast("double") / length(text).cast("double"), 6))

  /** Count of whitespace-delimited tokens equal to one of `words` —
    * a codegen'd regexp (the lookahead keeps adjacent matches intact)
    * instead of an interpreted token-filter lambda. */
  def stopwordHits(text: Column, words: Seq[String]): Column =
    regexp_count(text, lit(words.mkString("(?:^|\\s)(?:", "|", ")(?=\\s|$)")))

  /** Mean token length, rounded: total non-whitespace chars over the
    * token count — pure codegen string ops, no per-token lambda. */
  def meanWordLength(text: Column): Column = {
    val total = wordCount(text)
    when(total === 0, lit(0.0)).otherwise(
      round(length(regexp_replace(text, "\\s+", "")).cast("double")
        / total.cast("double"), 6))
  }

  /** Bottom-k sketch document fingerprint (C11): the k smallest md5
    * hex hashes of the distinct n-gram shingles, comma-joined. A
    * fixed-size, order-free content signature: equal docs → equal
    * prints; near-dup docs → mostly-shared prints. Map-side only —
    * the distributed twin used by query c11 is
    * `operators.Shingles.bottomKFingerprint`; keep semantics in
    * lockstep (both emit '' for docs too short to shingle). */
  def fingerprint(text: Column, n: Int = 3, k: Int = 5): Column =
    concat_ws(",", slice(
      array_sort(transform(array_distinct(wordShingles(lower(text), n)), x => md5(x))),
      1, k))

  /** PII/URL scrubbing patterns (C13) — engine-portable (no
    * lookaround, plain classes), applied email → url → phone. */
  val EmailPattern = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val AnyUrlPattern = """https?://[^\s]+"""
  val PhonePattern = """\+?\d[\d-]{6,}\d"""

  /** Redact emails, URLs, and phone-like numbers with typed tokens
    * (C13). Pure map-side codegen regexps. */
  def scrub(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        AnyUrlPattern, "<URL>"),
      PhonePattern, "<PHONE>")

  /** Counts of redactable spans, for filtering decisions. */
  def piiCounts(text: Column): (Column, Column, Column) =
    (regexp_count(text, lit(EmailPattern)),
      regexp_count(regexp_replace(text, EmailPattern, "<EMAIL>"), lit(AnyUrlPattern)),
      regexp_count(
        regexp_replace(regexp_replace(text, EmailPattern, "<EMAIL>"), AnyUrlPattern, "<URL>"),
        lit(PhonePattern)))

  /** Canonical text normalization (C15): strip control chars,
    * collapse whitespace runs to single spaces, trim, lowercase.
    * (No unicode NFC — not portably available across engines.) */
  def normalize(text: Column): Column =
    lower(trim(regexp_replace(
      regexp_replace(text, """[\x00-\x1F\x7F]""", " "),
      """\s+""", " ")))

  /** Stopword tables for the language-ID heuristic (C8). Tiny on
    * purpose: the heuristic is the operator; the lists are data. */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una", "los", "por"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit", "von"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "人", "有", "他", "这"))

  /** Language-ID: count stopword hits per language over whitespace
    * tokens (codegen'd regexp counts); argmax with language-code
    * tie-break; "und" (undetermined) when no list matches. Pure
    * map-side. */
  def langId(text: Column): Column = {
    val low = lower(text)
    // struct(-hits, lang) lexicographic min == argmax(hits) w/ lang tie-break
    val scored = LangStopwords.map { case (lang, sw) =>
      struct((-stopwordHits(low, sw)).as("neg"), lit(lang).as("lang"))
    }
    val best = array_min(array(scored: _*))
    when(best.getField("neg") === 0, lit("und")).otherwise(best.getField("lang"))
  }
}
